package graft.perfbench

/** The comparisons behind every workload's correctness checks. Each
  * returns the failures it found (empty when the outputs are right);
  * expected values always come from the benchmark's own computation,
  * never from the engine.
  */
object Checks {
  /** (asset_uri, template_id, field_id) */
  type TagKey = (String, String, String)

  private def few[T](xs: Iterable[T]): String = xs.take(3).mkString(", ")

  /** A tag state read from the store against its expected state. */
  def tagState(what: String, expected: Map[TagKey, String],
               actual: Seq[(TagKey, String)]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val dup = actual.size - actual.map(_._1).distinct.size
    if (dup > 0) out += s"$what: $dup duplicate tag rows"
    val act = actual.toMap
    val missing = expected.keySet -- act.keySet
    val extra = act.keySet -- expected.keySet
    val wrong = expected.collect {
      case (k, v) if act.get(k).exists(_ != v) => s"$k=${act(k)} (expected $v)"
    }
    if (missing.nonEmpty) out += s"$what: ${missing.size} tags missing, e.g. ${few(missing)}"
    if (extra.nonEmpty) out += s"$what: ${extra.size} unexpected tags, e.g. ${few(extra)}"
    if (wrong.nonEmpty) out += s"$what: ${wrong.size} wrong values, e.g. ${few(wrong)}"
    out.result()
  }

  /** Row counts per key (history rows per job, ...). */
  def counts(what: String, expected: Map[String, Long], actual: Map[String, Long]): Seq[String] = {
    val diff = (expected.keySet ++ actual.keySet).toSeq.sorted.collect {
      case k if expected.getOrElse(k, 0L) != actual.getOrElse(k, 0L) =>
        s"$k: ${actual.getOrElse(k, 0L)} (expected ${expected.getOrElse(k, 0L)})"
    }
    if (diff.isEmpty) Nil else Seq(s"$what: ${diff.size} counts differ, e.g. ${few(diff)}")
  }

  def same[T](what: String, expected: T, actual: T): Seq[String] =
    if (expected == actual) Nil else Seq(s"$what: got $actual, expected $expected")
}
