package graft.operators

import org.apache.spark.sql.DataFrame

/** Overlap INDEPENDENT Spark actions (optimization guide §2.6: the
  * scheduler happily runs several jobs at once — actions are only
  * sequential because driver code calls them sequentially).
  *
  * For protocol-shaped queries the wall is dominated by sequential
  * action round-trips: a handful of small localCheckpoints or table
  * commits, each a full job submit/complete cycle, adds up to more than
  * the work itself. Running them from a thread pool lets their jobs
  * back-fill each other's scheduling gaps and stragglers. Each thunk
  * runs under `blocking`, so the shared global pool grows past its
  * CPU-count cap instead of deadlocking under nested fan-outs.
  *
  * Failure shape: `Await` rethrows the first failure while the failed
  * thunk's siblings finish in the background. That is fine for pure
  * reads (nothing becomes visible anywhere) and for table commits that
  * only a LATER cut publish makes visible (the cut never adopts a
  * failed fan-out's commits; the orphans age out under vacuum). It is
  * never fine for the publish itself — publishes stay sequential, after
  * [[all]] returned.
  */
object Par {
  def all[T](thunks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(thunks.map(t => Future(blocking(t())))),
      Duration.Inf)
  }

  def ckptAll(dfs: DataFrame*): Seq[DataFrame] =
    all(dfs.map(df => () => df.localCheckpoint()))
}
