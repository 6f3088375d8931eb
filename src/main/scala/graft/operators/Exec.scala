package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place an operator materializes and releases an intermediate
  * frame (HarnessSpec fails on any other file under `operators/` that
  * caches, persists or checkpoints). The rule: a frame that dies with
  * the call lives in an [[Exec.scoped]] block; a frame the operator
  * RETURNS, or that a lazy plan it returns reads, goes through
  * [[Exec.materializeToTemp]]. Either way no blocks outlive the call, and
  * no row changes: only where a plan is rooted does.
  *
  * Why re-rooting matters (round-18 measurement): chained iteration
  * frames re-enter Catalyst on EVERY downstream action, and the logical
  * tree grows each round (doubling when a frame is referenced twice, as
  * PageRank's contrib+dangling did). q191 measured 67 s isolated at
  * sf0.1 with all 32 executor threads IDLE and the driver inside
  * Catalyst/AQE rules; caching caps execution, not re-analysis.
  */
object Exec {

  final class Scope private[Exec] () {
    private val held = scala.collection.mutable.LinkedHashSet.empty[RDD[_]]

    /** Materialize `df` once (a local checkpoint, one job) and return a
      * frame rooted at one leaf over its blocks: round R's plan is O(1)
      * nodes, and with AQE off the leaf keeps `df`'s output
      * partitioning. The scope holds the blocks before the job runs, so
      * a failing job leaks nothing.
      */
    def rebind(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint(eager = false)
      held += root(ck)
      root(ck).count()
      ck
    }

    /** Drop a frame [[rebind]] returned, e.g. the previous round once the
      * next is materialized. Through the RDD: `Dataset.unpersist` leaves
      * a checkpoint's RDD in `getPersistentRDDs`.
      */
    def release(df: DataFrame): Unit = {
      held -= root(df)
      root(df).unpersist(blocking = false); ()
    }

    private[Exec] def close(): Unit = {
      held.foreach(_.unpersist(blocking = false))
      held.clear()
    }

    private def root(df: DataFrame): RDD[_] = df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => throw new IllegalArgumentException(
        s"not a frame Exec.Scope.rebind returned: ${p.nodeName}")
    }
  }

  /** Run `body`, then release every frame its [[Scope]] still holds,
    * on return or throw. What `body` returns must not read a scope frame
    * lazily: collect it, or [[materializeToTemp]] it inside the body.
    */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    try body(s) finally s.close()
  }

  // JVM-scoped temp roots for materialized intermediates; deleted on
  // exit so a long bench session cannot leak them into the next run
  private val tmpRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tmpRoots.forEach(root => deleteRec(root))
    }, "graft-exec-tmp-cleanup"))
  }
  private def deleteRec(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec)
    f.delete(); ()
  }

  /** Materialize `df` once to a fresh JVM-temp parquet and return a plan
    * that READS IT BACK (guide §3.3: materialising an intermediate
    * truncates the plan). For frames an operator returns: the caller can
    * evaluate the result any number of times, the upstream never
    * re-executes, and no blocks stay cached. The directory itself lives
    * until JVM exit, so a long-lived session keeps one per call.
    */
  def materializeToTemp(df: DataFrame, tag: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag-").toFile
    tmpRoots.add(dir)
    df.write.mode("overwrite").parquet(dir.getAbsolutePath)
    df.sparkSession.read.parquet(dir.getAbsolutePath)
  }

  /** Write `df` to `path` as a pipeline stage boundary and read it back
    * after a settle: the ContextCleaner deletes shuffle files off a
    * GC-fed weak-reference queue, so nudge the GC and give the cleaner a
    * moment before the next stage piles up its own (measured: without
    * it, ~30 GB of a finished stage's shuffle was still on disk).
    */
  def stageTo(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    System.gc()
    Thread.sleep(3000)
    df.sparkSession.read.parquet(path)
  }
}
