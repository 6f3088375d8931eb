package graft.perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One budgeted step of the timed phase. `counted` steps are the
  * workload's operations (a query, a poll cycle, a serve batch); the
  * others (tail reads, index maintenance) share the client thread and
  * the clock but are reported apart.
  */
final case class OpRecord(name: String, counted: Boolean, round: Int,
    ms: Double, error: Option[String])

/** Runs each step through the program's `Bench.runWithBudget`: its own
  * Spark job group under a wall-clock budget. A step that throws or
  * outlives its budget is recorded as failed (its job group is
  * cancelled) and the loop moves on to the next step.
  */
final class Runner(spark: SparkSession, budgetMs: Long) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  private var seq = 0L

  def op[T](name: String, counted: Boolean, round: Int)(body: => T): Option[T] = {
    seq += 1
    var result: Option[T] = None
    val t0 = System.nanoTime()
    val outcome = graft.Bench.runWithBudget(spark, s"pb:$name:$seq", budgetMs) {
      result = Some(body)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    records += OpRecord(name, counted, round, ms, outcome.left.toOption)
    outcome.left.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    outcome.toOption.flatMap(_ => result)
  }
}

/** What the timed loop needs from a workload. */
trait Workload {
  /** Seed the store or layout the workload starts from (once per run). */
  def seed(spark: SparkSession): Unit = ()
  /** Prepare against a fresh session: open the inputs, start the stream
    * or open the reader. The first timed step of each kind is the cold
    * one; the medians keep it from setting the latency figures.
    */
  def setup(spark: SparkSession, attempt: Int): Unit
  /** Release what `setup` started before the session stops. */
  def teardown(): Unit = ()
  /** Whether the inputs hold a round `r` (0-based). */
  def hasRound(r: Int): Boolean = true
  /** Round `r`: the same sequence of steps every round. */
  def round(r: Int, run: Runner): Unit
  /** After the timed phase: write what the oracle checks to `out` and
    * return the workload's own figures.
    */
  def finish(spark: SparkSession, out: File, traced: Boolean): Map[String, Any]
}

/** The benchmark's JVM side: seed a workload's store or layout once, set
  * it up several times on fresh sessions (the last set-up is kept), run
  * whole rounds of it for the requested seconds with one client thread,
  * and write `run.json` for `run.py`.
  *
  * {{{
  * Harness --workload dashboard --input <dir> --work <dir> --seconds 10
  *         --trace 0 --seed 1 --setups 3 --budget-s 60
  * }}}
  */
object Harness {
  val Cores = 4

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "tmp").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use after a full collection. Two collections with a pause
    * between them, so the blocks Spark's ContextCleaner releases once the
    * first one clears their references are gone before the reading.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val input = new File(a("input")).getAbsoluteFile
    val work = new File(a("work")).getAbsoluteFile
    val out = new File(work, "out")
    out.mkdirs()
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val params = new java.util.Properties()
    val in = new FileInputStream(new File(input, "params.properties"))
    try params.load(in) finally in.close()
    val p = (k: String) => params.getProperty(k)
    val wl: Workload = a("workload") match {
      case "dashboard" | "corpus" => new QueryMix(input.getPath,
        p("queries").split(',').toSeq, a("seed").toLong)
      case "ingest" => new IngestLoop(input, work, p("tail_day"), p("per_round").toInt,
        p("tail_every").toInt, traced)
      case "serve" => new ServeLoop(input, work, p, traced)
      case other => sys.error(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    var spark = session(work)
    wl.seed(spark)
    val seedS = (System.nanoTime() - t0) / 1e9
    val setupS = (1 to a("setups").toInt).map { attempt =>
      wl.teardown()
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      wl.setup(spark, attempt)
      (System.nanoTime() - t0) / 1e9
    }

    val trace = if (traced) Some(new Trace) else None
    trace.foreach { t =>
      spark.listenerManager.register(t.queries)
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streams)
      t.start()
    }
    val run = new Runner(spark, (a("budget-s").toDouble * 1000).toLong)
    var r = 0
    var wallS = 0.0
    var cpu = 0L
    var heapMb = 0.0
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    while ((r == 0 || wallS < seconds) && wl.hasRound(r)) {
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      wl.round(r, run)
      wallS += (System.nanoTime() - t0) / 1e9
      cpu += cpuNs() - c0
      // outside the clock: the heap still live after a full collection
      heapMb = math.max(heapMb, liveHeapMb())
      r += 1
    }
    trace.foreach { t => t.stop(); t.drain() }

    val counted = run.records.filter(_.counted)
    val layers = trace.map { t =>
      val kinds = counted.map(_.name).distinct
      val serves = math.max(1, counted.count(_.name == "serve"))
      t.figures(counted.size, wallS, Cores) ++ kinds.map(k =>
        s"op.$k.task_cpu_ms" -> t.total(k, _.cpuNs) / 1e6 / counted.count(_.name == k)) ++
        Map("store.serve_files_read" -> t.total("serve", _.filesRead).toDouble / serves,
          "store.serve_bytes_read" -> t.total("serve", _.bytesRead).toDouble / serves)
    }.getOrElse(Map.empty)
    val extra = wl.finish(spark, out, traced)
    wl.teardown()
    spark.stop()

    val json = Json.obj(Map(
      "seed_s" -> seedS,
      "setup_s" -> setupS,
      "rounds" -> r,
      "wall_s" -> wallS,
      "cpu_s" -> cpu / 1e9,
      "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
      "heap_live_mb" -> heapMb,
      "ops" -> run.records.map(o => Map("name" -> o.name,
        "counted" -> o.counted, "round" -> o.round, "ms" -> o.ms,
        "error" -> o.error.orNull)),
      "layers" -> layers,
      "workload" -> extra))
    val w = new PrintWriter(new File(out, "run.json"), "UTF-8")
    try w.write(json) finally w.close()
  }
}

/** Just enough JSON for run.json. */
object Json {
  def obj(m: Map[String, Any]): String = value(m)
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => value(other.toString)
  }
}
