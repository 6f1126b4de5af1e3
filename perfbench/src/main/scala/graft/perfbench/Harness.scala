package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.engine.{GraftSession, Tables}

/** One benchmark run: a single JVM at local[cores] driven by a single
  * closed-loop client (the next op starts only after the previous one
  * returned). Writes `run.json` (and `spans.jsonl` when traced) into
  * `--out`; perfbench/run.py checks the outputs and turns them into the
  * reported metrics.
  *
  * Each layer is timed from outside, around the benchmark's own calls
  * into graft's public entry points: `Tables.table` (table
  * resolution), `SparkEntry.queries(q)(spark, dir)` (plan
  * construction), `Dataset.queryExecution` (Catalyst), the `noop` write
  * (execution) and `MemoryStream.addData` + `processAllAvailable`
  * (streaming). Job, stage and task counts come from a SparkListener
  * read at the same boundaries, only when traced.
  *
  * `--workload describe` instead builds and saves every registered
  * query once (cold) and records the tables its plan scans;
  * make_expected.py turns that into expected.json.
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, small: String, out: String, expected: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), kv.getOrElse("seed", "0").toLong, kv.getOrElse("seconds", "0").toDouble,
      kv.getOrElse("trace", "0") == "1", need("data"), need("small"), need("out"),
      need("expected"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = new Run(a, Expected.tables(a.expected))
    try {
      val result = if (a.workload == "describe") run.describe() else run.go(Workloads(a.workload))
      Json.write(s"${a.out}/run.json", result)
    } finally run.stop()
  }
}

/** State of one run: the session, the listener and the trace. */
final class Run(a: Harness.Args, tables: Map[String, Seq[String]]) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private val counters = new Counters
  private val trace = new Trace(a.trace, () => counters.jobs.get)
  private var spark: SparkSession = _

  private def session(): SparkSession = {
    val s = GraftSession.builder(Some(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .config("spark.local.dir", s"${a.out}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (trace.on) s.sparkContext.addSparkListener(counters)
    s
  }

  /** Drop every graft memo and every persisted frame. */
  def reset(): Unit = {
    graft.queries.TextOps.resetCaches()
    Tables.clearCache()
    spark.catalog.clearCache()
  }

  private def drain(): Unit = org.apache.spark.graft.BusDrain.drain(spark.sparkContext)

  def stop(): Unit = if (spark != null) spark.stop()

  def args: Harness.Args = a
  def sparkSession: SparkSession = spark
  def traced: Boolean = trace.on

  def go(w: Workload): Map[String, Any] = {
    // set-up, repeated: a fresh session and one op at the small scale
    val setups = (1 to Run.SetUps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) { reset(); spark.stop() }
      spark = session()
      w.setUp(this)
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: whole passes whose records are dropped, so their outputs
    // are not saved or checked; their ops get negative ids, which the
    // traced figures skip
    val w0 = System.nanoTime()
    (0 until w.warmUps).foreach(p => w.pass(this, p, Run.WarmUpOp))
    val warmS = (System.nanoTime() - w0) / 1e9
    reset()
    // the window: a fixed number of whole passes, as many as fit in
    // --seconds at the workload's nominal pass length. Every run does
    // the same work whatever the host's speed; a later pass is warmer
    // and cheaper, so a pass count that followed the host would mix the
    // two in the per-pass figures.
    val passes = math.max(1, math.round(a.seconds / w.passS).toInt)
    Host.resetRssPeak()
    val cpu0 = Host.processCpuS()
    val j0 = Host.jiffies()
    // set-up time: JVM start to the first timed op, so the JVM and
    // class initialisation, every set-up and the warm-up passes count
    val setupS = Host.uptimeS()
    val t0 = System.nanoTime()
    val ops = ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    while (pass == 0 || (pass < passes && (System.nanoTime() - t0) / 1e9 < Run.WindowCapS)) {
      ops ++= w.pass(this, w.warmUps + pass, ops.size).map(_ + ("pass" -> pass))
      pass += 1
    }
    val host = Host.witnesses(j0, Host.jiffies(), Host.processCpuS() - cpu0)
    if (trace.on) trace.write(s"${a.out}/spans.jsonl")
    Map("workload" -> a.workload, "seed" -> a.seed, "cores" -> cores, "traced" -> a.trace,
      "setup_s" -> setupS, "setups_s" -> setups, "warm_up_s" -> warmS, "passes" -> pass,
      "ops" -> ops.toSeq, "host" -> host) ++ Host.memory()
  }

  /** Run a query once outside any measurement (set-up). */
  def untimed(q: String, dir: String): Unit =
    try SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) => System.err.println(s"[perfbench] set-up $q failed: $e") }

  // time spent draining the listener bus and reading counters: the
  // tracing overhead, reported per op
  private var traceNs = 0L

  private def sample(): Snap = {
    val t0 = System.nanoTime()
    drain()
    val s = counters.snap()
    traceNs += System.nanoTime() - t0
    s
  }

  def startOp(): Unit = traceNs = 0L

  /** Run `body`; when traced, also return the listener counters it
    * accrued and the op's tracing overhead so far. */
  def measured[T](body: => T): (T, Map[String, Any]) =
    if (!trace.on) (body, Map.empty)
    else {
      val s0 = sample()
      val r = body
      (r, sample().since(s0) + ("trace_s" -> traceNs / 1e9))
    }

  /** Time `body` as span `name` of op `op`. */
  private def timed[T](name: String, op: Int)(body: => T): (T, Double, Map[String, Any]) = {
    var secs = 0.0
    val (r, delta) = measured {
      val t0 = System.nanoTime()
      val x = trace.span(name, op)(body)
      secs = (System.nanoTime() - t0) / 1e9
      x
    }
    (r, secs, delta)
  }

  def span[T](name: String, op: Int)(body: => T): T = trace.span(name, op)(body)

  /** One batch op: (cold) reset, resolve the query's tables, build the
    * plan, run Catalyst, execute through the noop sink. The result of a
    * timed op (op >= 0) is then written once more, outside the timed
    * op, for run.py's check. */
  def batchOp(op: Int, q: String, cold: Boolean, dir: String): Map[String, Any] = {
    if (cold) reset()
    startOp()
    val rec = scala.collection.mutable.Map[String, Any]("op" -> op, "query" -> q)
    val (cpu0, gc0) = (Host.processCpuS(), Host.gcS())
    val t0 = System.nanoTime()
    try {
      val df = span("op", op) {
        val (_, tS, tM) = timed("tables", op) {
          tables.getOrElse(q, Nil).foreach(n => Tables.table(spark, dir, n))
        }
        val (df, bS, bM) = timed("build", op) { SparkEntry.queries(q)(spark, dir) }
        val (_, pS, _) = timed("plan", op) { df.queryExecution.executedPlan }
        val (_, eS, eM) = timed("exec", op) { df.write.format("noop").mode("overwrite").save() }
        rec ++= Seq("tables_s" -> tS, "build_s" -> bS, "plan_s" -> pS, "exec_s" -> eS)
        if (trace.on) {
          rec ++= Seq("tables_jobs" -> tM("jobs"), "build_jobs" -> bM("jobs"))
          rec ++= eM.map { case (k, v) => s"exec.$k" -> v }
          rec ++= df.queryExecution.tracker.phases.map { case (k, p) => s"plan.${k}_s" -> p.durationMs / 1e3 }
        }
        df
      }
      rec ++= Seq("op_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (Host.processCpuS() - cpu0),
        "gc_s" -> (Host.gcS() - gc0))
      if (trace.on) {
        rec += "trace_s" -> traceNs / 1e9
        val info = spark.sparkContext.getRDDStorageInfo
        rec ++= Seq("cache.rdds" -> info.length,
          "cache.persisted_mb" -> info.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
      if (op >= 0) rec += "result" -> save(df, op.toString)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] op $op $q failed: $e")
        rec ++= Seq("op_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (Host.processCpuS() - cpu0),
          "error" -> e.toString)
    }
    rec.toMap
  }

  private def save(df: DataFrame, name: String): String = {
    val path = s"${a.out}/results/$name"
    df.write.mode("overwrite").parquet(path)
    path
  }

  /** Build, save and describe every registered query once, cold. */
  def describe(): Map[String, Any] = {
    spark = session()
    val names = SparkEntry.registry.keys.toSeq.sorted
    Map("queries" -> names.map { q =>
      reset()
      val df = SparkEntry.queries(q)(spark, a.data)
      val scanned = df.inputFiles.flatMap(_.split('/').find(_.endsWith(".parquet"))).map(_.stripSuffix(".parquet"))
      q -> Map("tables" -> scanned.distinct.sorted.toSeq, "result" -> save(df, q),
        "oracle" -> SparkEntry.oracleSql.get(q))
    }.toMap)
  }
}

object Run {
  /** Set-ups per run, all inside setup_s. */
  val SetUps = 3
  val HdfsStore = "HDFSBackedStateStoreProvider"
  val RocksDbStore = "RocksDBStateStoreProvider"

  /** First op id of a warm-up pass. */
  val WarmUpOp = -1000000

  /** Start no further pass after this much window wall time, so a slow
    * tree still ends within the per-run time limit. */
  val WindowCapS = 90.0
}
