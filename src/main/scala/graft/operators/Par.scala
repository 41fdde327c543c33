package graft.operators

import org.apache.spark.sql.DataFrame

/** Overlap INDEPENDENT materializations (optimization guide §2.6: the
  * scheduler happily runs several jobs at once — actions are only
  * sequential because driver code calls them sequentially).
  *
  * For protocol-shaped queries the wall is dominated by sequential
  * action round-trips: a handful of small localCheckpoints, each a
  * full job submit/complete cycle, adds up to more than the work
  * itself. When the frames are independent READS (no ordering or
  * visibility contract between them — never store commits, whose
  * publish order the crash specs pin), checkpointing them from a
  * thread pool lets their jobs back-fill each other's scheduling
  * gaps and stragglers.
  *
  * Failure shape: `Await` rethrows the first failure while sibling
  * checkpoint jobs complete in the background — harmless for pure
  * reads (nothing becomes visible anywhere), which is the only
  * contract this helper accepts.
  */
object Par {
  def ckptAll(dfs: DataFrame*): Seq[DataFrame] = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(
      Future.sequence(dfs.map(df => Future(blocking(df.localCheckpoint())))),
      Duration.Inf)
  }
}
