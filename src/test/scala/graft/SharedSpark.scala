package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftExtensions
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The one Spark session every spec runs on: `local[4]`, 4 shuffle
  * partitions, UTC, no UI, the native SQL functions installed and the
  * warehouse under the fixture's temp root. It lives for the whole test
  * JVM, the way `App` and `Soak` run many queries in one session; no
  * suite may stop it (Spark's own shutdown hook does). Each suite starts
  * from the same clean state: no cached plans or RDDs, no temp views, no
  * running streaming query and the session's initial SQL conf.
  */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>

  protected lazy val spark: SparkSession = SharedSpark.session

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    SharedSpark.reset()
  }

  /** Runs `body` with the given SQL confs set, then puts back each key's
    * previous value, or unsets a key that had none.
    */
  protected def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A fresh directory under the fixture's temp root, which is deleted
    * when the test JVM exits.
    */
  protected def tmpDir(tag: String): String =
    Files.createTempDirectory(SharedSpark.root, s"$tag-").toString
}

object SharedSpark {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-test-")
    // below Spark's context-stop hook, so the session is gone first, and
    // above the Hadoop FileSystem cache's close
    ShutdownHookManager.get().addShutdownHook(
      () => FileUtils.deleteQuietly(r.toFile),
      FileSystem.SHUTDOWN_HOOK_PRIORITY + 1)
    r
  }

  private lazy val (session, initialConf) = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(root.toFile, "warehouse").getPath)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    (s, s.conf.getAll)
  }

  private def reset(): Unit = {
    val spark = session
    spark.streams.active.foreach(_.stop())
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    val now = spark.conf.getAll
    (now.keySet -- initialConf.keySet).foreach(spark.conf.unset)
    initialConf.foreach { case (k, v) => if (!now.get(k).contains(v)) spark.conf.set(k, v) }
  }
}
