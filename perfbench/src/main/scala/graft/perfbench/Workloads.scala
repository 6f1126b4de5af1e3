package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.Tables
import graft.queries._
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** A workload: the last step of each set-up and the pass, which the
  * run repeats untimed to warm up and then timed. The window runs whole
  * passes, so every run measures the same op mix; the seed only orders
  * and draws. */
trait Workload {
  /** Nominal op time of one pass on the 4-core reference host: the
    * window runs `--seconds / passS` passes (at least one). */
  def passS: Double
  /** Untimed passes before the window, so JIT and codegen warm-up land
    * in setup_s and not in the timed passes. */
  def warmUps: Int
  /** Ends every set-up: one op at the small (sf0.001) scale. */
  def setUp(r: Run): Unit
  /** Pass `p` of the run; its ops are numbered from `firstOp`. */
  def pass(r: Run, p: Int, firstOp: Int): Seq[Map[String, Any]]
}

object Workloads {
  private def keys(fs: Map[String, Query]*): Seq[String] = fs.flatMap(_.keys).sorted

  /** Relational, event, funnel, temporal and range queries. */
  lazy val analytics: Seq[String] = keys(Relational.all, Relational2.all, Relational3.all,
    Relational4.all, EventOps.all, Funnel.all, Temporal.all, RangeOps.all)

  /** Text, vector, pipeline, graph, multimodal, linkage and layout queries. */
  lazy val curation: Seq[String] = keys(TextOps.all, VectorOps.all, Pipeline.all, Graph.all,
    Multimodal.all, Linkage.all, Layout.all)

  /** A warm session drawn from both families: two analytics joins (two
    * and five tables), the q25 pair build with its rider q37 (which
    * reuses the memoized pair frame), the q88 edge build and a kernel
    * query. Each is drawn twice per pass: the first use runs the cold
    * path (table resolution, gates, memo builds), the second hits
    * graft's memos. */
  val sessionPool: Seq[String] = Seq("q03_segment_orders", "q04_revenue_by_nation",
    "q25_jaccard_neardup", "q37_dup_clusters", "q88_triangles", "q27_simhash")

  def apply(name: String): Workload = name match {
    case "analytics-cold" => new Batch(analytics, cold = true)
    case "curation-cold" => new Batch(curation, cold = true)
    case "session-warm" => new Session(sessionPool)
    case "stream-events" => new StreamReplay(batches = 7, rowsPerBatch = 250)
    case other => sys.error(s"unknown workload $other")
  }

  /** Pass `p` of a run seeded with `seed` gets its own permutation. */
  def permutation[T](xs: Seq[T], seed: Long, p: Int): Seq[T] =
    new Random(seed * 1000003L + p).shuffle(xs)
}

/** Batch queries, each pass a seeded permutation of the op set. A cold
  * workload drops every cache before each op. */
final class Batch(queries: Seq[String], cold: Boolean) extends Workload {
  def passS: Double = 60.0
  // one pass covers the whole family, so one warms every query
  def warmUps: Int = 1
  def setUp(r: Run): Unit = r.untimed(queries.head, r.args.small)

  def pass(r: Run, p: Int, firstOp: Int): Seq[Map[String, Any]] =
    Workloads.permutation(queries, r.args.seed, p).zipWithIndex.map { case (q, i) =>
      r.batchOp(firstOp + i, q, cold, r.args.data)
    }
}

/** One warm session per pass: caches are dropped when the pass starts
  * and never again, so the first use of a shared frame builds it and
  * every later use hits the memo. */
final class Session(pool: Seq[String]) extends Workload {
  def passS: Double = 10.0
  // after one warm-up pass, the first timed pass still cost a quarter
  // more CPU than the second
  def warmUps: Int = 2
  def setUp(r: Run): Unit = r.untimed(pool.head, r.args.small)

  def pass(r: Run, p: Int, firstOp: Int): Seq[Map[String, Any]] = {
    r.reset()
    Session.carrierFirst(Workloads.permutation(pool ++ pool, r.args.seed, p)).zipWithIndex.map {
      case (q, i) => r.batchOp(firstOp + i, q, cold = false, r.args.data)
    }
  }
}

object Session {
  /** Rider -> the carrier whose memoized frame it reuses. */
  val riders: Map[String, String] = Map("q37_dup_clusters" -> "q25_jaccard_neardup")

  /** A session runs a carrier before its rider, as a user would: if a
    * rider's first use comes first, it swaps places with the carrier's
    * first use. The cold build then always lands on the carrier. */
  def carrierFirst(order: Seq[String]): Seq[String] =
    riders.foldLeft(order.toVector) { case (o, (rider, carrier)) =>
      val (ri, ci) = (o.indexOf(rider), o.indexOf(carrier))
      if (ri >= 0 && ci > ri) o.updated(ri, carrier).updated(ci, rider) else o
    }
}

/** The events replayed in timestamp order as micro-batches through four
  * stateful queries: `tumblingHour` (watermarked) and
  * `sessionizeWithState` read the clean feed, `dedupEvents` and
  * `ledgerStream` (RocksDB state) read the same batches plus seeded
  * redeliveries. An op is one micro-batch added to both feeds and
  * processed by all four queries, which run concurrently. Each pass
  * starts fresh queries on the next segment of the event log. After a
  * timed pass two far-future events flush every window and session,
  * and each query's output is compared with its batch composition over
  * the events fed. */
final class StreamReplay(batches: Int, rowsPerBatch: Int) extends Workload {
  def passS: Double = 10.0
  // after one warm-up pass, the first timed pass still cost a third
  // more CPU than the second
  def warmUps: Int = 2
  private var events: IndexedSeq[Event] = _

  private def load(r: Run, dir: String): IndexedSeq[Event] = {
    def us(t: Timestamp): Long = math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    Tables.table(r.sparkSession, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"), col("event_type"), col("value"))
      .collect().map(x => Event(x.getLong(0), x.getTimestamp(1), x.getLong(2), x.getString(3), x.getDouble(4)))
      .sortBy(e => (us(e.ts), e.event_id)).toIndexedSeq
  }

  def setUp(r: Run): Unit = load(r, r.args.small)

  def pass(r: Run, p: Int, firstOp: Int): Seq[Map[String, Any]] = {
    if (events == null) events = load(r, r.args.data)
    val rnd = new Random(r.args.seed * 1000003L + p)
    // seeded boundaries: the pass always replays batches * rowsPerBatch
    // events; each inner boundary moves by up to 20 % of a batch
    val total = batches * rowsPerBatch
    val cuts = (0 +: Seq.fill(batches - 1)(rnd.nextInt(rowsPerBatch * 2 / 5 + 1) - rowsPerBatch / 5)
      .zipWithIndex.map { case (jitter, i) => (i + 1) * rowsPerBatch + jitter } :+ total)
      .map(_ + (p * total) % (events.size - total))
    val replay = new Replay(r, s"p$p")
    var prev = Seq.empty[Event]
    val ops = cuts.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
      val batch = events.slice(a, b)
      // seeded redeliveries: ~5 % of the previous batch arrives again
      val again = prev.filter(_ => rnd.nextDouble() < 0.05)
      prev = batch
      replay.feed(batch, again, firstOp + i)
    }.toList
    if (firstOp < 0) { replay.stop(); ops } // warm-up: not checked
    else if (replay.finish()) ops
    else ops.map(_ + ("error" -> "stream output differs from its batch composition"))
  }

  /** One pass's four streaming queries. */
  private final class Replay(r: Run, tag: String) {
    private val spark = r.sparkSession
    import spark.implicits._
    private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val clean = MemoryStream[Event]
    private val redo = MemoryStream[Event]
    private val fed = ArrayBuffer.empty[Event]
    private val redelivered = ArrayBuffer.empty[Event]

    /** Start a query on the given state store provider (read at start). */
    private def start(name: String, df: DataFrame, mode: String, provider: String): (String, StreamingQuery) = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        s"org.apache.spark.sql.execution.streaming.state.$provider")
      name -> df.writeStream.format("memory").queryName(s"${name}_$tag").outputMode(mode)
        .option("checkpointLocation", s"${r.args.out}/chk/$tag/$name").start()
    }

    // transformWithState (ledgerStream) needs RocksDB's column families;
    // the other three keep Spark's default HDFS-backed store
    private val queries = Seq(
      start("tumble", Streams.tumblingHour(clean.toDF(), Some("1 hour")), "append", Run.HdfsStore),
      start("sessions", Streams.sessionizeWithState(clean.toDS()).toDF(), "append", Run.HdfsStore),
      start("dedup", Streams.dedupEvents(redo.toDF()), "append", Run.HdfsStore),
      start("ledger", Streams.ledgerStream(redo.toDS()).toDF(), "update", Run.RocksDbStore))
    private val seen = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(-1L)

    /** One micro-batch through all four queries; op < 0 is a warm-up op. */
    def feed(batch: Seq[Event], again: Seq[Event], op: Int): Map[String, Any] = {
      fed ++= batch
      redelivered ++= again
      r.startOp()
      val (cpu0, gc0) = (Host.processCpuS(), Host.gcS())
      val t0 = System.nanoTime()
      val (per, counters) = r.measured(r.span("op", op) {
        r.span("stream.add", op) {
          clean.addData(batch)
          redo.addData(batch ++ again)
        }
        queries.map { case (name, q) =>
          val q0 = System.nanoTime()
          r.span(s"stream.$name", op)(q.processAllAvailable())
          name -> (System.nanoTime() - q0) / 1e9
        }
      })
      val rec = Map[String, Any]("op" -> op, "query" -> "micro-batch", "rows" -> (batch.size + again.size),
        "op_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (Host.processCpuS() - cpu0),
        "gc_s" -> (Host.gcS() - gc0))
      if (r.traced) rec ++ progress(per.toMap) ++ counters.map { case (k, v) => s"exec.$k" -> v } +
        ("trace_s" -> counters("trace_s"))
      else rec
    }

    /** Progress of the triggers each query ran for this op. */
    private def progress(wall: Map[String, Double]): Map[String, Any] = {
      val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      queries.foreach { case (name, q) =>
        val fresh = q.recentProgress.filter(_.batchId > seen(name))
        fresh.lastOption.foreach(pr => seen(name) = pr.batchId)
        def ms(k: String) = fresh.map(pr => Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
        val trigger = ms("triggerExecution")
        acc("stream.trigger_s") += trigger
        acc("stream.add_batch_s") += ms("addBatch")
        acc("stream.commit_s") += ms("walCommit") + ms("commitOffsets")
        acc("stream.planning_s") += ms("queryPlanning")
        acc("stream.wait_s") += math.max(0.0, wall(name) - trigger)
        acc(s"stream.$name.trigger_s") += trigger
        fresh.lastOption.foreach { pr =>
          acc("stream.state_rows") += pr.stateOperators.map(_.numRowsTotal).sum.toDouble
          acc("stream.state_mb") += pr.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0
        }
        acc("stream.dropped_rows") += fresh.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble
      }
      acc.toMap
    }

    def stop(): Unit = queries.foreach(_._2.stop())

    /** Flush, stop and compare each operator with its batch composition. */
    def finish(): Boolean = {
      val far = Seq("2099-01-01 00:00:00", "2099-02-01 00:00:00").zipWithIndex.map { case (t, i) =>
        Event(-1L - i, Timestamp.valueOf(t), -1L, "click", 0.0)
      }
      far.foreach { e =>
        clean.addData(e)
        redo.addData(e)
        queries.foreach(_._2.processAllAvailable())
      }
      stop()
      def table(name: String) = spark.table(s"${name}_$tag")
      val batch = fed.toSeq.toDF()
      val flushUs = 4070908800000000L // 2099-01-01 in micros
      val checks = Seq(
        "tumble" -> same(table("tumble").filter(col("win_us") < flushUs), Streams.tumblingHour(batch)),
        "sessions" -> (table("sessions").filter(!col("closed")).isEmpty &&
          same(table("sessions").filter(col("user_id") >= 0).select("user_id", "sess_start_us", "n"),
            Streams.sessionize(batch).select("user_id", "sess_start_us", "n"))),
        "dedup" -> same(table("dedup").filter(col("user_id") >= 0).select("event_id"),
          batch.select("event_id")),
        "ledger" -> {
          val dups = redelivered.groupBy(_.user_id).map { case (u, es) => u -> es.size.toLong }
          val want = batch.groupBy("user_id")
            .agg(count(lit(1)).as("n"), dsum(col("value")).as("total")).collect()
            .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 100), dups.getOrElse(x.getLong(0), 0L)))
            .toSet
          val got = table("ledger").filter(col("user_id") >= 0).collect()
            .groupBy(_.getAs[Long]("user_id")).values
            .map(_.maxBy(x => (x.getAs[Long]("n"), x.getAs[Long]("n_dup"))))
            .map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("n"),
              math.round(x.getAs[Double]("total") * 100), x.getAs[Long]("n_dup")))
            .toSet
          got == want
        })
      checks.filterNot(_._2).foreach { case (n, _) =>
        System.err.println(s"[perfbench] stream $tag: $n differs from its batch composition")
      }
      checks.forall(_._2)
    }

    private def same(a: DataFrame, b: DataFrame): Boolean = {
      def rows(d: DataFrame) = d.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      rows(a) == rows(b)
    }
  }
}
