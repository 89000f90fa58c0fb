package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The benchmark's JVM side: set-up, the timed loop of one workload, and a
  * raw record (JSON) of every op, span and counter. `run.py` turns the
  * record into metrics and checks the outputs against DuckDB.
  *
  * Usage: Main <workload> <seed> <trace 0|1> <work dir> <spark.conf> <raw.json>
  * [key=value ...]. The inputs are already generated under the work dir
  * (`input/` or `arrivals/`); the key=value pairs are the workload's
  * load parameters. */
object Main {
  /** Set-up rounds per run; `setup_s` is built from their median. */
  val Rounds = 3

  final case class Args(workload: String, seed: Long, trace: Boolean,
                        work: String, conf: String, out: String, params: Map[String, String]) {
    def param(k: String): String =
      params.getOrElse(k, throw new IllegalArgumentException(s"missing parameter $k"))
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length >= 6,
      "usage: Main <workload> <seed> <trace> <work> <conf> <out> [key=value ...]")
    val a = Args(argv(0), argv(1).toLong, argv(2) == "1",
      argv(3), argv(4), argv(5), argv.drop(6).map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
    val raw = a.workload match {
      case "curate" => new CurateRun(a).run()
      case "ingest" => new IngestRun(a).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(Paths.get(a.out), Json(raw).getBytes("UTF-8"))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** A fresh session from the fixed conf file (`key=value` lines). */
  def session(a: Args): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val b = SparkSession.builder()
    scala.io.Source.fromFile(a.conf).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).foreach { l =>
        val i = l.indexOf('=')
        b.config(l.take(i).trim, l.drop(i + 1).trim)
      }
    b.config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Total bytes of the files under `p`. */
  def du(p: Path): Long = {
    val it = Files.walk(p)
    try it.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally it.close()
  }

  /** Order-free fingerprint of a collected result. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def heapLiveMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)}"
}

/** `curate`: a curation job that calls every iterative operator of the
  * engine (connected components both ways, PageRank, label propagation,
  * BFS, the lineage walk, k-means) once per pass, in a seeded order, from
  * one client. The job runs in a fresh JVM, so a pass includes the JIT and
  * code-generation cost every real run pays; only the JVM's first query is
  * warmed in set-up. */
final class CurateRun(a: Main.Args) {
  import Main._
  val Cells: Seq[String] = Seq("q_cc_star", "q_dedup_assign", "q_pagerank", "q_labelprop",
    "q_bfs", "q_lineage", "q_kmeans")
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]

  def run(): Map[String, Any] = {
    val cells = graft.SparkEntry.queries
    val dir = s"${a.work}/input"
    var spark: SparkSession = null
    val sessions = (1 to Rounds).map { _ =>
      val t0 = Clock.us()
      spark = session(a)
      secs(t0, Clock.us())
    }
    // the first result of each cell is the one checked against the oracle;
    // every later call must reproduce it exactly
    val expect = mutable.Map.empty[String, String]
    def keep(c: String, df: org.apache.spark.sql.DataFrame, rows: Array[Row]): Unit = {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${a.work}/results/$c")
      expect(c) = fingerprint(rows)
    }
    val tw = Clock.us()
    // generic JVM and code-generation warm-up, so that the first timed
    // cell does not also pay for the first query the JVM ever runs
    spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag").count().collect()
    val warmup = secs(tw, Clock.us())

    val rng = new scala.util.Random(a.seed)
    val seq = (1 to a.param("passes").toInt).flatMap(p => rng.shuffle(Cells).map(p -> _))
    val rec = if (a.trace) Some(new Recorder(spark)) else None
    rec.foreach(_.attach())
    val sc = spark.sparkContext
    var traceNs = 0L
    seq.zipWithIndex.foreach { case ((pass, c), i) =>
      val op = s"op$i"
      sc.setLocalProperty(Recorder.OpKey, op)
      rec.foreach(_.current = op)
      val t0 = Clock.us()
      val res = try {
        val df = cells(c)(spark, dir)
        Right((df, df.collect()))
      } catch { case e: Exception => Left(e) }
      val t1 = Clock.us()
      // the op's span closes only after its events are delivered
      rec.foreach { r => val d = System.nanoTime(); r.drain(); traceNs += System.nanoTime() - d }
      sc.setLocalProperty(Recorder.OpKey, null)
      val (ok, err) = res match {
        case Right((df, rows)) =>
          if (!expect.contains(c)) keep(c, df, rows)
          val same = fingerprint(rows) == expect(c)
          (same, if (same) null else "result differs from the cell's checked result")
        case Left(e) => (false, errText(e))
      }
      ops += Map("op" -> op, "pass" -> pass, "cell" -> c, "t0" -> t0, "t1" -> t1,
        "ok" -> ok, "raised" -> res.isLeft, "err" -> err)
      spark.catalog.clearCache()
    }
    rec.foreach(_.detach())
    val heap = heapLiveMb()
    val oracle = graft.SparkEntry.oracleSql
    Map("workload" -> a.workload, "input_dir" -> dir, "session_s" -> sessions,
      "fixture_publish_s" -> Seq.empty, "warmup_s" -> warmup, "ops" -> ops.toSeq,
      "oracle_sql" -> Cells.filter(oracle.contains).map(c => c -> oracle(c)).toMap,
      "heap_live_mb" -> heap) ++ rec.map(r => Trace.summary(r, traceNs)).getOrElse(Map.empty)
  }
}

object Trace {
  /** The recorder's per-op counters and spans as plain JSON values. */
  def summary(r: Recorder, drainNs: Long): Map[String, Any] = r.synchronized {
    Map("trace" -> Map(
      "ops" -> r.stats.map { case (op, s) => op -> Map(
        "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks, "pins" -> s.pins,
        "actions" -> s.actions, "task_ms" -> s.taskMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "sched_ms" -> s.schedMs, "pin_ms" -> s.pinMs, "input_bytes" -> s.inBytes,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "analysis_ms" -> s.analysisMs,
        "optimization_ms" -> s.optimizationMs, "planning_ms" -> s.planningMs,
        "files_written" -> s.filesWritten, "bytes_written" -> s.bytesWritten)
      }.toMap,
      "job_spans" -> r.jobSpans.map { case (op, t0, t1, pin) =>
        Map("op" -> op, "t0" -> t0 * 1000, "t1" -> t1 * 1000, "pin" -> pin) }.toSeq,
      "plan_spans" -> r.planSpans.map { case (op, ph, t0, t1) =>
        Map("op" -> op, "phase" -> ph, "t0" -> t0 * 1000, "t1" -> t1 * 1000) }.toSeq,
      "callback_s" -> r.callbackNs / 1e9,
      "drain_s" -> drainNs / 1e9))
  }
}

/** Minimal JSON writer for the raw record (maps, sequences, numbers,
  * strings, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** `ingest`: open loop. A generator writes seeded registration batches
  * into a dropbox at a fixed rate (temp name, then rename); one
  * long-running `Ingest.txnStream` commits each file as one multi-table
  * transaction (sample upserts + dataset appends), with fold / compact /
  * vacuum maintenance every `MaintEvery` batches; a reader thread runs
  * txn-pinned reads plus an aggregate at a fixed rate. */
final class IngestRun(a: Main.Args) {
  import Main._
  private val T = graft.operators.SnapshotTxn
  val ArrivalsPerSec = a.param("rate").toDouble
  val WarmArrivals = a.param("warm").toInt
  val MaintEvery = a.param("maint_every").toInt
  val ReadEveryMs = a.param("read_every_ms").toLong
  /** Txns kept resolvable by vacuum: well above the commits one read spans. */
  val KeepTxns = 12
  /** A batch takes every file that has arrived (one commit costs about a
    * second on 4 cores, so one file per batch could not keep up with any
    * useful rate); the bound only keeps a stall from making one huge batch. */
  val MaxFilesPerBatch = 64
  val CompactMinRows = 1000L
  val CompactTargetRows = 20000L

  private final case class Dirs(base: String, gen: String) {
    val drop = s"$base/dropbox"; val root = s"$base/txn"
    val smp = s"$base/samples"; val ds = s"$base/datasets"; val chk = s"$base/chk"
  }
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  /** Publish arrival `i` into the dropbox: copy under a hidden temp name,
    * then rename. Returns the rename time. */
  private def arrive(d: Dirs, i: Int): Long = {
    val name = f"batch$i%05d.parquet"
    val tmp = Paths.get(d.drop, s".$name.tmp")
    Files.copy(Paths.get(d.gen, name), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(d.drop, name), StandardCopyOption.ATOMIC_MOVE)
    Clock.us()
  }

  /** Fold the samples log, compact the dataset files, then vacuum the txn
    * log and both tables down to the last `KeepTxns` transactions. */
  private def maintain(spark: SparkSession, d: Dirs, tag: String): Unit = {
    val m = T.begin(spark, d.root)
    m.stageFold(d.smp)
    m.stageCompact(d.ds, CompactMinRows, CompactTargetRows)
    if (m.hasStaged) m.commit(tag = Some(tag))
    val head = T.latestTxn(spark, d.root)
    if (head - KeepTxns > 1) {
      T.vacuumTxnLog(spark, d.root, keepFrom = head - KeepTxns)
      T.vacuumEnrolled(spark, d.root, d.smp)
      T.vacuumEnrolled(spark, d.root, d.ds)
    }
  }

  private def stage(spark: SparkSession, d: Dirs)
      (t: graft.operators.SnapshotTxn, b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val t0 = Clock.us()
    // maintenance commits as its own txn BEFORE this batch stages, so the
    // batch's bases are the maintained versions
    if (id > 0 && id % MaintEvery == 0) maintain(spark, d, s"maint=$id")
    val t1 = Clock.us()
    val shaped = b.withColumn("us", unix_micros(col("ts").cast("timestamp")))
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"), col("us"))
    val smp = shaped
      .withColumn("__rn", expr("row_number() over (partition by user_id order by us desc, event_id desc)"))
      .filter(col("__rn") === 1).select("user_id", "event_id", "cents")
    val ds = shaped.select("event_id", "user_id", "cents")
    if (graft.operators.Snapshot.latestVersion(spark, d.smp) == 0) {
      t.stagePublish(smp, d.smp); t.stagePublish(ds, d.ds)
    } else {
      t.stageMerge(smp, d.smp, "user_id"); t.stageAppend(ds, d.ds)
    }
    batches.add(Map("batch" -> id, "maint_t0" -> t0, "maint_t1" -> t1, "stage_t1" -> Clock.us()))
  }

  private def startStream(spark: SparkSession, d: Dirs): StreamingQuery = {
    var q: StreamingQuery = null
    spark.sparkContext.setLocalProperty(Recorder.OpKey, null)
    graft.streaming.Ingest.txnStream(spark, d.drop, "batch*.parquet", d.root, d.chk,
      stage(spark, d), maxFilesPerTrigger = MaxFilesPerBatch, trigger = Trigger.ProcessingTime(0L),
      finish = h => q = h)
    q
  }

  def run(): Map[String, Any] = {
    val total = new java.io.File(s"${a.work}/arrivals").list().count(_.endsWith(".parquet"))
    val n = total - 1 - WarmArrivals
    var spark: SparkSession = null
    var q: StreamingQuery = null
    var d: Dirs = null
    val sessions, publishes = mutable.ArrayBuffer.empty[Double]
    for (r <- 1 to Rounds) {
      val t0 = Clock.us()
      spark = session(a)
      val t1 = Clock.us()
      // every round starts the stream on empty dirs
      d = Dirs(s"${a.work}/ingest$r", s"${a.work}/arrivals")
      val t2 = Clock.us()
      Files.createDirectories(Paths.get(d.drop))
      // first touch: the bootstrap batch publishes both tables
      arrive(d, 0)
      q = startStream(spark, d)
      q.processAllAvailable()
      val t3 = Clock.us()
      if (r < Rounds) q.stop()
      sessions += secs(t0, t1)
      publishes += secs(t2, t3)
    }
    val tw = Clock.us()
    (1 to WarmArrivals).foreach { i => arrive(d, i); q.processAllAvailable() }
    val warmup = secs(tw, Clock.us())
    batches.clear()

    val rec = if (a.trace) Some(new Recorder(spark)) else None
    rec.foreach { r => r.current = "ingest"; r.attach() }
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var stop = false
    val stopped = new java.util.concurrent.CountDownLatch(1)
    val start = Clock.us()
    val reader = new Thread(() => {
      spark.sparkContext.setLocalProperty(Recorder.OpKey, "read")
      var j = 0L
      while (!stop) {
        val due = start + j * ReadEveryMs * 1000
        val wait = due - Clock.us()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait * 1000)
        if (!stop) {
          val t0 = Clock.us()
          val (ok, err) = try {
            val k = T.latestTxn(spark, d.root)
            val s = T.readAsOfTxn(spark, d.root, k, d.smp)
              .agg(count(lit(1)), sum("cents"))
            val x = T.readAsOfTxn(spark, d.root, k, d.ds)
              .agg(count(lit(1)), sum("cents"))
            s.crossJoin(x).collect()
            (true, null)
          } catch { case e: Exception => (false, errText(e)) }
          reads.add(Map("t0" -> t0, "t1" -> Clock.us(), "ok" -> ok, "err" -> err))
          j += 1
        }
      }
      stopped.countDown()
    }, "perfbench-reader")
    reader.setDaemon(true)
    reader.start()
    val arrivals = (0 until n).map { i =>
      val due = start + math.round(i * 1e6 / ArrivalsPerSec)
      val wait = due - Clock.us()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait * 1000)
      val seq = 1 + WarmArrivals + i
      Map("file" -> f"batch$seq%05d.parquet", "due" -> due, "renamed" -> arrive(d, seq))
    }
    val streamErr = try { q.processAllAvailable(); null } catch { case e: Exception => errText(e) }
    val end = Clock.us()
    stop = true
    stopped.await()
    rec.foreach(_.detach())
    val progress = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      import scala.jdk.CollectionConverters._
      Map("batch" -> p.batchId, "trigger_start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }.toSeq
    q.stop()
    // last maintenance cycle, then what the stream left on disk
    maintain(spark, d, "maint=final")
    val stored = Seq(d.root, d.smp, d.ds).map(p => du(Paths.get(p)))
    val logFiles = Seq(d.root, d.smp, d.ds).map { p =>
      val it = Files.walk(Paths.get(p))
      try it.filter(f => Files.isRegularFile(f) && !f.toString.endsWith(".parquet") &&
        !f.toString.endsWith(".parquet.crc")).count() finally it.close()
    }.sum
    val input = du(Paths.get(d.drop))
    T.readLatest(spark, d.root, d.smp).coalesce(1).write.mode("overwrite")
      .parquet(s"${a.work}/results/ingest_samples")
    T.readLatest(spark, d.root, d.ds).coalesce(1).write.mode("overwrite")
      .parquet(s"${a.work}/results/ingest_datasets")
    val heap = heapLiveMb()
    Map("workload" -> "ingest", "session_s" -> sessions.toSeq,
      "fixture_publish_s" -> publishes.toSeq, "warmup_s" -> warmup,
      "start" -> start, "end" -> end, "arrivals" -> arrivals, "reads" -> reads.toArray.toSeq,
      "batches" -> batches.toArray.toSeq, "progress" -> progress, "stream_error" -> streamErr,
      "dropbox" -> d.drop, "source_log" -> s"${d.chk}/sources/0",
      "stored_bytes" -> stored.sum, "input_bytes" -> input, "log_files" -> logFiles,
      "heap_live_mb" -> heap) ++ rec.map(r => Trace.summary(r, 0L)).getOrElse(Map.empty)
  }
}
