package perfbench

import graft.core.GraftSession
import graft.run.{CollectingNotifier, FileOps, FileResult, Processor}
import graft.store.{Schemas, TableStore}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One timed round: a sweep of the drop directory or a query pass.
  *
  * @param cpuS     CPU seconds the JVM spent over the same interval as
  *                 `wallS`, on every thread (the local executors included)
  * @param opLat    latency of each operation in the round (files from the
  *                 engine's run log, queries from the benchmark's timer)
  * @param ops      per-operation outcomes for the correctness check
  */
final case class Round(wallS: Double, cpuS: Double, startUs: Long, endUs: Long,
                       opLat: Seq[Double], ops: Seq[Map[String, Any]],
                       rowsRead: Long = 0, files: Int = 0,
                       queueWait: Seq[Double] = Nil,
                       targetReadS: Seq[Double] = Nil,
                       extra: Map[String, Double] = Map.empty)

/** Closed-loop benchmark harness. One thread issues one sweep or one query
  * at a time and waits for it. Usage (normally through `run.py`):
  * {{{
  *   BenchMain --workload W --work DIR --seconds S --trace 0|1
  * }}}
  * `DIR/plan.json` (written by the generator) names the inputs; the harness
  * writes `DIR/jvm.json` with metrics and per-operation outcomes, and with
  * `--trace 1` also `DIR/spans.jsonl`.
  */
object BenchMain {
  private def opt(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(' ')(0).toDouble
    catch { case _: Throwable => -1.0 }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, on all its threads. */
  def cpuNow(): Double = os.getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = opt(args, "workload")
    val work = Paths.get(opt(args, "work")).toAbsolutePath
    val seconds = opt(args, "seconds").toDouble
    val trace = opt(args, "trace") == "1"
    val plan = Json.read(work.resolve("plan.json"))

    // run labels: a contended run labels itself
    val loadStart = loadavg()
    val calibT0 = System.nanoTime()
    val calib = graft.tools.Calib.ratioOf(
      (graft.tools.Calib.once(), graft.tools.Calib.onceParallel()))
    val calibS = (System.nanoTime() - calibT0) / 1e9

    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calibS
    val cores = spark.sparkContext.defaultParallelism

    val spans = new Spans
    val wl: Workload = workload match {
      case "ingest_sweep" => new IngestSweep(spark, work, plan, spans)
      case "query_suite" => new QuerySuite(spark, work, plan, spans)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up repeats; the last repetition's state is what the timed
    // region starts from
    val reps = plan.path("setup_reps").asInt(3)
    val setupWalls = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(setupWalls)

    // closed loop for about `seconds`: another round starts only while it
    // is expected to end less than half a round past the budget
    def timedLoop(traced: Boolean, firstRound: Int): Seq[Round] = {
      val rounds = Seq.newBuilder[Round]
      val t0 = System.nanoTime()
      var k = firstRound
      var n = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (n == 0 || elapsed + 0.5 * elapsed / n < seconds) {
        rounds += wl.round(k, traced)
        k += 1; n += 1
      }
      rounds.result()
    }

    val counter = new WorkCounter
    spark.sparkContext.addSparkListener(counter)
    val timedT0 = System.nanoTime()
    val plain = timedLoop(traced = false, firstRound = 0)
    val timedS = (System.nanoTime() - timedT0) / 1e9
    counter.settle()
    spark.sparkContext.removeSparkListener(counter)
    val workCounts = plain.map(r => (counter.count(counter.jobStarts, r.startUs, r.endUs),
      counter.count(counter.taskStarts, r.startUs, r.endUs)))
    // the first collection enqueues dead frames' weak references; give
    // Spark's ContextCleaner time to drop their cached blocks before the
    // collection that is measured
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0

    val ledger = new JobLedger
    val traced =
      if (!trace) Nil
      else {
        spark.sparkContext.addSparkListener(ledger)
        spans.enabled = true
        val r = timedLoop(traced = true, firstRound = plain.size)
        // listener events arrive asynchronously: wait for every job's end
        val deadline = System.nanoTime() + 10000000000L
        while (ledger.all.exists(_.endUs == 0L) && System.nanoTime() < deadline)
          Thread.sleep(50)
        Thread.sleep(300)
        spans.enabled = false
        r
      }
    val loadEnd = loadavg()

    val e2e = Metrics.endToEnd(plain, workCounts, setupS, heapMb)
    val layers =
      if (!trace) Map.empty[String, Double]
      else Metrics.perLayer(workload, plain, traced, ledger.all, spans, cores) ++ Map(
        "session.start_s" -> sessionS,
        "session.warmup_s" -> median(setupWalls),
        "run.cores" -> cores.toDouble,
        "run.calib_ratio" -> calib,
        "run.loadavg_start" -> loadStart,
        "run.loadavg_end" -> loadEnd)
    if (trace) {
      // job spans, parented by the span of the file the job names, or else
      // by the benchmark span that was open when the job started
      val (fileSpans, benchSpans) = spans.all.partition(_.name == "file")
      spans.enabled = true
      ledger.all.foreach { j =>
        val parent = spans.enclosing(j.startUs, fileSpans.filter(_.runId == j.subject))
          .orElse(spans.enclosing(j.startUs, benchSpans))
        spans.add(Span(spans.nextId(), parent.map(_.id).getOrElse(0L),
          s"job:${j.label}", if (j.subject.nonEmpty) j.subject
            else parent.map(_.runId).getOrElse(""),
          j.startUs, j.endUs, Map("job_id" -> j.id, "tasks" -> j.tasks,
            "task_ms" -> j.taskMs, "input_bytes" -> j.inputBytes,
            "shuffle_bytes" -> (j.shuffleRead + j.shuffleWrite),
            "output_bytes" -> j.outputBytes)))
      }
      spans.writeJsonl(work.resolve("spans.jsonl"))
    }

    val out = Map(
      "workload" -> workload,
      "labels" -> Map("cores" -> cores, "loadavg_start" -> loadStart,
        "loadavg_end" -> loadEnd, "calib_ratio" -> calib),
      "phases" -> Map("calib_s" -> calibS, "session_s" -> sessionS,
        "setup_walls" -> setupWalls, "timed_s" -> timedS),
      "rounds" -> plain.size,
      "traced_rounds" -> traced.size,
      "metrics" -> e2e,
      "layers" -> layers,
      "ops" -> (plain ++ traced).flatMap(_.ops),
      "final" -> wl.finalState())
    Files.write(work.resolve("jvm.json"), Json.write(out).getBytes("UTF-8"))
    spark.stop()
  }
}

/** A workload: repeatable set-up plus numbered timed rounds. */
trait Workload {
  def setup(rep: Int): Unit
  def round(k: Int, traced: Boolean): Round
  /** Where the last round left the state the checker reads. */
  def finalState(): Map[String, Any]
}

/** Shared plumbing for the pipeline workloads: a fresh warehouse, drop,
  * archive and duplicates directory per round, and run-log latencies.
  */
abstract class PipelineWorkload(spark: SparkSession, work: Path, spans: Spans,
                                name: String) extends Workload {
  protected val registry = Sources.registry(name)

  protected final case class Env(dir: Path, store: TableStore, proc: Processor) {
    def drop: Path = dir.resolve("drop")
    def wh: Path = dir.resolve("wh")
  }

  protected def env(dir: Path): Env = {
    Files.createDirectories(dir.resolve("drop"))
    val store = new TableStore(spark, dir.resolve("wh").toString)
    val files = new FileOps(spark.sparkContext.hadoopConfiguration,
      dir.resolve("archive").toString, dir.resolve("duplicates").toString)
    Env(dir, store, new Processor(spark, registry, store, files,
      new CollectingNotifier, dir.resolve("drop").toString))
  }

  protected def input(rel: String): Path = work.resolve(rel)

  protected def stage(e: Env, rels: Seq[String]): Unit =
    stageAs(e, rels.map(r => r -> input(r).getFileName.toString))

  /** Copy inputs into the drop directory under the given file names. */
  protected def stageAs(e: Env, files: Seq[(String, String)]): Unit =
    files.foreach { case (src, as) => Files.copy(input(src), e.drop.resolve(as)) }

  protected def sweep(e: Env): (Seq[FileResult], Int, Double, Double, Long, Long) = {
    val staged = Option(e.drop.toFile.list()).map(_.length).getOrElse(0)
    val t0us = spans.nowUs
    val cpu0 = BenchMain.cpuNow()
    val t0 = System.nanoTime()
    val summary = spans.span("processor.processAll") {
      JobLedger.phase(spark, "sweep")(e.proc.processAll())
    }
    val wall = (System.nanoTime() - t0) / 1e9
    (summary.results, staged, wall, BenchMain.cpuNow() - cpu0, t0us, spans.nowUs)
  }

  protected def outcome(k: Int, r: FileResult): Map[String, Any] = Map(
    "kind" -> "file", "round" -> k, "name" -> r.fileName,
    "success" -> r.success, "error" -> r.errorName.map(_.split(' ').head).orNull,
    "read" -> r.recordsRead, "failed" -> r.recordsFailedValidation,
    "inserts" -> r.publishInserts, "updates" -> r.publishUpdates)

  /** (file, first event, last event) in epoch microseconds for every log
    * id whose first event is at or after `sinceUs`.
    */
  protected def runLog(e: Env, sinceUs: Long): Seq[(String, Long, Long)] =
    e.store.readIfExists(Schemas.LogTable).toSeq.flatMap { log =>
      log.groupBy("file_load_log_id")
        .agg(first("source_filename").as("f"),
          min("event_time").as("t0"), max("event_time").as("t1"))
        .collect().toSeq
        .map(r => (r.getString(1), r.getTimestamp(2), r.getTimestamp(3)))
        .map { case (f, a, b) =>
          (f, a.getTime * 1000 + (a.getNanos / 1000) % 1000,
            b.getTime * 1000 + (b.getNanos / 1000) % 1000)
        }
        .filter(_._2 >= sinceUs - 1000)
    }

  protected def fileRound(k: Int, e: Env): Round = {
    val (results, staged, wall, cpu, t0, t1) = sweep(e)
    val log = runLog(e, t0)
    // the paper's own figure: rows per second of the customer file alone
    val paperRowsPerS = log.find(_._1.startsWith("customers_")).flatMap { case (f, a, b) =>
      results.find(_.fileName == f).map(_.recordsRead / ((b - a) / 1e6))
    }
    val sweepSpans = spans.all.filter(_.name == "processor.processAll")
    log.foreach { case (f, a, b) =>
      spans.add(Span(spans.nextId(), spans.enclosing(a, sweepSpans).map(_.id).getOrElse(0L),
        "file", f, a, b))
    }
    Round(wall, cpu, t0, t1,
      opLat = log.map { case (_, a, b) => (b - a) / 1e6 },
      ops = results.map(outcome(k, _)) ++
        (0 until (staged - results.size)).map(_ =>
          Map[String, Any]("kind" -> "file", "round" -> k, "name" -> null,
            "no_source" -> true)),
      rowsRead = results.map(_.recordsRead).sum,
      files = staged,
      queueWait = log.map { case (_, a, _) => (a - t0) / 1e6 },
      extra = Map("target_files_written" -> registry.all.map(s =>
        writtenSince(e.wh.resolve(s.tableName), t0 / 1000)).sum.toDouble) ++
        paperRowsPerS.map("paper_rows_per_s" -> _))
  }

  /** Data files under `p` last modified at or after `sinceMs`. */
  protected def writtenSince(p: Path, sinceMs: Long): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(".parquet") &&
      Files.getLastModifiedTime(f).toMillis >= sinceMs).toLong

  protected def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)

  protected def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }

  /** (bytes, files) of the data files under `p`. */
  protected def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    }

  protected def storageExtra(e: Env, inputBytes: Double): Map[String, Double] = {
    val (b, n) = du(e.wh)
    Map("warehouse_bytes" -> b.toDouble, "warehouse_files" -> n.toDouble,
      "stored_bytes_per_input_byte" -> b / inputBytes)
  }

  /** A consumer's full read of a published customer target: every column,
    * folded into a content checksum the checker recomputes independently.
    */
  protected def targetRead(e: Env, table: String): (Double, Map[String, Any], Int) = {
    val t0 = System.nanoTime()
    val (df, row) = spans.span("store.target_read", table) {
      JobLedger.phase(spark, "target-read") {
        val df = e.store.readIfExists(table).get
        (df, Checksum.of(df, Sources.customerColumnNames))
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    (s, row, df.inputFiles.length)
  }
}

/** Content checksum of a target: row count, key sum and the sum of a CRC32
  * over every business column rendered as text.
  */
object Checksum {
  def of(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Map[String, Any] = {
    val rendered = cols.map {
      case "balance" => col("balance").cast("decimal(14,2)").cast("string")
      case "signup_date" => date_format(col("signup_date"), "yyyy-MM-dd")
      case c => col(c).cast("string")
    }.map(c => coalesce(c, lit("")))
    val r = df.agg(count(lit(1)), sum(col(cols.head)),
      sum(crc32(concat_ws("|", rendered: _*)))).head()
    Map("rows" -> r.getLong(0), "key_sum" -> r.getLong(1), "crc_sum" -> r.getLong(2))
  }
}

/** ingest_sweep: one drop directory holding the paper's workload (a large
  * customer parquet file for an empty target), a CSV delta for a bucketed
  * copy-on-write target built in set-up, and small csv.gz, json and parquet
  * files of other sources: re-sent names, a corrected re-send of a file
  * that failed in set-up, a file over its threshold and a file no source
  * claims. Each round restores the set-up warehouse and sweeps the drop
  * once; a consumer's full read of the merge target follows, timed apart.
  */
final class IngestSweep(spark: SparkSession, work: Path,
                        plan: com.fasterxml.jackson.databind.JsonNode, spans: Spans)
    extends PipelineWorkload(spark, work, spans, "ingest_sweep") {
  private val preload = Json.strings(plan.path("preload"))
  private val files = plan.path("sweep").elements().asScala
    .map(n => n.path("src").asText -> n.path("as").asText).toSeq
  private val inputBytes = (preload ++ files.map(_._1))
    .map(f => Files.size(input(f))).sum.toDouble
  private var pristine: Path = _
  private var last: Option[Env] = None

  def setup(rep: Int): Unit = {
    if (pristine != null) deleteTree(pristine.getParent)
    val e = env(work.resolve(s"setup_$rep"))
    stage(e, preload)
    e.proc.processAll()
    pristine = e.wh
  }

  def round(k: Int, traced: Boolean): Round = {
    last.foreach(l => deleteTree(l.dir))
    val dir = work.resolve(s"round_$k")
    copyTree(pristine, dir.resolve("wh"))
    val e = env(dir)
    stageAs(e, files)
    last = Some(e)
    val r = fileRound(k, e)
    val (rs, row, nFiles) = targetRead(e, "crm_customers")
    r.copy(targetReadS = Seq(rs),
      ops = r.ops :+ Map("kind" -> "target_read", "round" -> k,
        "table" -> "crm_customers", "files" -> nFiles, "checksum" -> row),
      extra = r.extra ++ storageExtra(e, inputBytes) + ("target_files" -> nFiles.toDouble))
  }

  def finalState(): Map[String, Any] =
    Map("warehouse" -> last.map(_.wh.toString).orNull)
}

/** query_suite: a fixed sample of the declared queries, one pass per round
  * over a fresh copy of the generated tables (so no per-directory memo
  * carries over between passes).
  */
final class QuerySuite(spark: SparkSession, work: Path,
                       plan: com.fasterxml.jackson.databind.JsonNode, spans: Spans)
    extends Workload {
  private val data = work.resolve(plan.path("data").asText)
  val names: Seq[String] = QuerySuite.sample
  private val outDir = work.resolve("qout")

  private def copyData(tag: String): String = {
    val dst = work.resolve(s"data_$tag")
    Files.createDirectories(dst)
    Files.list(data).iterator().asScala.foreach(p =>
      Files.copy(p, dst.resolve(p.getFileName.toString)))
    dst.toString
  }

  def setup(rep: Int): Unit = {
    // warm-up: the sample once over its own copy of the tables, so the JIT
    // has compiled the paths the timed passes run
    val dir = copyData(s"setup_$rep")
    names.foreach(q => graft.SparkEntry.queries(q)(spark, dir).collect())
  }

  def round(k: Int, traced: Boolean): Round = {
    val dir = copyData(s"pass_$k")
    val startUs = spans.nowUs
    val cpu0 = BenchMain.cpuNow()
    val t0 = System.nanoTime()
    val per = names.map { q =>
      spans.span("query", q) {
        val q0 = System.nanoTime()
        val df = spans.span("queries.construct", q) {
          JobLedger.phase(spark, "construct")(graft.SparkEntry.queries(q)(spark, dir))
        }
        if (traced) spans.span("queries.plan", q) {
          JobLedger.phase(spark, "plan")(df.queryExecution.executedPlan)
        }
        val rows = spans.span("queries.exec", q) {
          JobLedger.phase(spark, "exec")(df.collect())
        }
        val lat = (System.nanoTime() - q0) / 1e9
        (q, df.schema, rows, lat)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = BenchMain.cpuNow() - cpu0
    val endUs = spans.nowUs
    // outside the timed region: keep the first pass's rows for the
    // oracle check, and a digest of every pass's rows
    val ops = per.map { case (q, schema, rows, lat) =>
      if (k == 0) {
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.parquet(outDir.resolve(q).toString)
      }
      Map[String, Any]("kind" -> "query", "round" -> k, "name" -> q,
        "rows" -> rows.length, "digest" -> QuerySuite.digest(rows), "latency_s" -> lat)
    }
    Round(wall, cpu, startUs, endUs, opLat = per.map(_._4), ops = ops)
  }

  def finalState(): Map[String, Any] = Map(
    "data" -> data.toString, "qout" -> outDir.toString, "queries" -> names,
    "oracle" -> names.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
}

object QuerySuite {
  /** One pass must fit a run's measuring time, so the suite is a fixed
    * sample chosen to reach every query-side layer: relational joins,
    * aggregation and top-k (q9, q10), text functions (text_ngrams),
    * MinHash/LSH similarity (dedup_minhash_lsh), vector functions and the
    * persisted IVF index (sim_topk_ivf_index) and streaming
    * (q14_sessionize_stream).
    */
  val sample: Seq[String] = Seq("dedup_minhash_lsh", "q10_region_revenue",
    "q14_sessionize_stream", "q9_topk_orders", "sim_topk_ivf_index",
    "text_ngrams")

  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
