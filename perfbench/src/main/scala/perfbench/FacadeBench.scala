package perfbench

import java.sql.Timestamp
import java.time.{Instant, LocalTime}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Profiling, ReadFilter, TimeDb}
import graft.operators.{UnchangedScope, WriteResult}

/** Fixed-work, single-client, closed-loop benchmark of the public
  * [[graft.TimeDb]] facade.
  *
  * One JVM, `local[cores]`, shuffle partitions = cores. The store is built
  * three times through `TimeDb.write` / `compact` (two throw-away builds
  * warm the JVM; the third is measured against); every op class then runs
  * untimed on a throw-away store; then a fixed, seeded, interleaved op
  * sequence is timed. Every timed result is checked against [[Model]].
  * Raw samples and counts go to the result file as JSON; `run.py` turns
  * them into the reported metrics.
  *
  * Usage: FacadeBench <workload> <seed> <seconds> <trace 0|1> <result.json> <workdir> [trace.json]
  */
object FacadeBench {

  /** Sizes of one workload. `opsPerSecond` turns `--seconds` into a fixed
    * op count, so a slow run does the same work as a fast one. */
  final case class Spec(nSeries: Int, historyRuns: Int, opsPerSecond: Double)

  val Specs: Map[String, Spec] = Map(
    "forecast_ingest" -> Spec(nSeries = 50, historyRuns = 118, opsPerSecond = 1.0),
    "dashboard_reads" -> Spec(nSeries = 60, historyRuns = 96, opsPerSecond = 2.4))

  /** Untimed reads before `dashboard_reads`' timed phase (see `warmUpPlan`). */
  val WarmUpReads = 24

  /** Single-run writes after each build's compaction: the uncompacted
    * tail the reads see. */
  val TailRuns = 2

  /** 2024-01-27T00:00Z: ingest's 120 set-up runs end at the February
    * boundary, so its timed runs land in a fresh month and one `short`
    * month (January) can expire on the simulated clock. */
  val BaseHour: Long = Instant.parse("2024-01-27T00:00:00Z").getEpochSecond / 3600

  /** Simulated TTL clock: 2024-08-01, past January's 180-day `short`
    * TTL but not February's. */
  val ExpiryAsOf: Instant = Instant.parse("2024-08-01T12:00:00Z")

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6 || argv.length == 7,
      "usage: FacadeBench <workload> <seed> <seconds> <trace 0|1> <result.json> <workdir> [trace.json]")
    val Array(workload, seedS, secondsS, traceS, out, work) = argv.take(6)
    val traceOut = argv.lift(6).filter(_.nonEmpty)
    // `train` runs every workload briefly in one JVM (to record the classes
    // a run loads); it measures nothing.
    val workloads = if (workload == "train") Specs.keys.toSeq.sorted else Seq(workload)
    workloads.foreach(w => require(Specs.contains(w),
      s"unknown workload $w; known: ${Specs.keys.toSeq.sorted}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val results =
      try workloads.map(w => new Bench(spark, w, Specs(w), seedS.toLong, secondsS.toInt,
        traceS == "1", s"$work/$w", cores).run(sessionStartS, traceOut,
        builds = if (workload == "train") 1 else 3))
      finally spark.stop()
    writeFile(out, Json(results.last))
  }

  def writeFile(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(text) finally w.close()
  }
}

/** One run of one workload. */
final class Bench(spark: SparkSession, workload: String, spec: FacadeBench.Spec, seed: Long,
    seconds: Int, trace: Boolean, work: String, cores: Int) {
  import FacadeBench._

  private val gen = Gen(seed, spec.nSeries, BaseHour)
  private val tracer = new Tracer(spark, trace)
  private val rng = new scala.util.Random(seed)
  private val allSids: Seq[Long] = (1L to spec.nSeries).toSeq
  private val perRun: Long = spec.nSeries.toLong * Gen.Horizon

  // Timed-phase records.
  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val opCounts = mutable.LinkedHashMap.empty[String, ArrayBuffer[Counts]]
  private val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val errors = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var offeredRows = 0L
  private var rowsReturned = 0L
  private var timing = false

  private def note(key: String, v: Double): Unit = layer.getOrElseUpdate(key, ArrayBuffer.empty) += v

  /** One store, the model of its contents and its change_time clock. */
  private final class Store(val path: String) {
    val db = new TimeDb(spark, path)
    val model = new Model(gen)
    private var clock = 0L
    def changeTime(): Timestamp = {
      clock += 1
      new Timestamp((Instant.parse("2024-03-01T00:00:00Z").getEpochSecond + clock) * 1000L)
    }
    def nextRun: Long = model.runsWritten
  }

  private def check(what: String)(ok: Boolean): Unit = if (!ok) errors += what

  private def checkWrite(what: String, got: WriteResult, want: WriteResult): Unit =
    check(s"$what: got $got, want $want")(got == want)

  // ---- store build -------------------------------------------------------

  /** The history's hourly runs in one write, compaction, then the
    * uncompacted tail of single-run writes. */
  private def build(path: String): Store = {
    val s = new Store(path)
    s.db.create()
    val h = spec.historyRuns.toLong
    checkWrite("history", s.db.write(gen.runs(spark, 0, h, s.changeTime())), WriteResult(h * perRun, 0))
    s.model.wrote(0, h)
    s.db.compact()
    for (_ <- 0 until TailRuns) writeRun(s)
    s
  }

  private def delete(path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  // ---- ops ---------------------------------------------------------------

  private def writeRun(s: Store): Unit = {
    val r = s.nextRun
    val res = tracer.span("timedb.write")(
      s.db.write(gen.run(spark, r, s.changeTime()), knowledgeTime = Some(gen.knowledgeTime(r))))
    checkWrite(s"write run $r", res, WriteResult(perRun, 0))
    s.model.wrote(r, r + 1)
    offeredRows += perRun
  }

  /** Newest run at least two runs old with no follow-up yet. */
  private def target(s: Store): Long =
    (s.nextRun - 3 to 0L by -1L).find(r => !s.model.hasFollowUp(r))
      .getOrElse(throw new IllegalStateException("no run left to correct or re-deliver"))

  private def skipWrite(s: Store): Unit = {
    val r = target(s)
    val res = tracer.span("timedb.write")(s.db.write(gen.redelivery(spark, r, s.changeTime()),
      knowledgeTime = Some(gen.knowledgeTime(r)), skipUnchanged = true,
      unchangedScope = UnchangedScope.KnowledgeTime))
    val kept = gen.redeliveryWritten(r)
    checkWrite(s"re-delivery of run $r", res, WriteResult(kept, perRun - kept))
    s.model.redelivered(r)
    offeredRows += perRun
    if (timing) note("write_pipeline.skip_kept_ratio", kept.toDouble / perRun)
  }

  private def correct(s: Store): Unit = {
    val r = target(s)
    val rows = gen.correctionRows(r)
    val res = tracer.span("timedb.write")(
      s.db.write(gen.correction(spark, r, s.changeTime()), knowledgeTime = Some(gen.knowledgeTime(r))))
    checkWrite(s"correction of run $r", res, WriteResult(rows, 0))
    s.model.corrected(r)
    offeredRows += rows
  }

  private def maintain(s: Store): Unit = {
    def timed[T](name: String)(f: => T): T = {
      val t = System.nanoTime()
      try tracer.span(name)(f) finally if (timing) note(s"$name.s", (System.nanoTime() - t) / 1e9)
    }
    val before = liveSizes(s)
    timed("series_store.compact")(s.db.compact())
    val after = liveSizes(s)
    if (timing) note("series_store.compact_bytes_rewritten",
      before.filter { case (f, _) => !after.contains(f) }.values.sum.toDouble)
    val dropped = timed("series_store.expire")(s.db.expireRetention(ExpiryAsOf))
    val wantDropped =
      if (s.model.hasExpired("short", "202401")) Nil else Seq("retention=short/valid_month=202401")
    check(s"expireRetention dropped $dropped, want $wantDropped")(dropped == wantDropped)
    s.model.expire("short", "202401")
    timed("series_store.vacuum")(s.db.vacuum(keepManifests = 2, minAgeMillis = 0L))
  }

  private def liveSizes(s: Store): Map[String, Long] = {
    val root = new Path(s.db.store.valuesPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    s.db.store.currentFiles().map(f => f -> fs.getFileStatus(new Path(root, f)).getLen).toMap
  }

  private def filterOf(q: Query): ReadFilter =
    ReadFilter(q.sids, startValid = Some(Gen.hourTs(q.vtFrom)), endValid = Some(Gen.hourTs(q.vtTo)))

  private def frameOf(s: Store, q: Query): DataFrame = {
    val f = filterOf(q)
    q.shape match {
      case "latest" => s.db.read(f)
      case "history" => s.db.read(f, includeKnowledgeTime = true)
      case "audit" => s.db.read(f, includeUpdates = true)
      case "audit_history" => s.db.read(f, includeUpdates = true, includeKnowledgeTime = true)
      case "relative" => s.db.readRelativeDaily(f, Query.DaysAhead, LocalTime.of(Query.TimeOfDayH, 0))
    }
  }

  private def hourOfCol(c: String) = expr(s"unix_seconds($c) div 3600")

  /** Interactive read: the rows come back to the client. */
  private def readRows(s: Store, q: Query): Unit = {
    val df = tracer.span("timedb.read")(frameOf(s, q))
    val rows = tracer.span("timedb.collect")(df.collect())
    val hasKt = df.columns.contains("knowledge_time")
    var vsum = 0.0
    var ksum = 0L
    rows.foreach { r: Row =>
      val kt = if (hasKt) Gen.hourOf(r.getAs[Timestamp]("knowledge_time")) else 0L
      vsum += r.getAs[Double]("value")
      ksum += Gen.keySum(r.getAs[Long]("series_id"), Gen.hourOf(r.getAs[Timestamp]("valid_time")), kt)
    }
    rowsReturned += rows.length
    compare(s, q, Answer(rows.length.toLong, vsum, ksum))
  }

  private def compare(s: Store, q: Query, got: Answer): Unit = {
    val want = s.model.expect(q)
    check(s"${q.shape} ${q.sids.length} series [${q.vtFrom},${q.vtTo}): got $got, want $want")(got == want)
  }

  private def readRunSeries(s: Store, sid: Long): Unit = {
    val got = tracer.span("timedb.read_run_series")(s.db.readRunSeries(sid))
    rowsReturned += got.length
    check(s"readRunSeries($sid): ${got.length} runs, want ${s.model.runIds.length}")(
      got.sorted == s.model.runIds)
  }

  // ---- op plans ----------------------------------------------------------

  private sealed trait Op { def cls: String }
  private case object Write extends Op { val cls = "write" }
  private case object SkipWrite extends Op { val cls = "skip_write" }
  private case object Correction extends Op { val cls = "correction" }
  private case object Maintain extends Op { val cls = "maintain" }
  private final case class Read(q: Query) extends Op { val cls = "read" }
  private final case class RunSeries(sid: Long) extends Op { val cls = "run_series" }

  private def execute(s: Store, op: Op): Unit = op match {
    case Write => writeRun(s)
    case SkipWrite => skipWrite(s)
    case Correction => correct(s)
    case Maintain => maintain(s)
    case Read(q) => readRows(s, q)
    case RunSeries(sid) => readRunSeries(s, sid)
  }

  private def nOps: Int = math.max(1, math.round(seconds * spec.opsPerSecond).toInt)

  /** forecast_ingest: hourly writes with every 6th op a skip-unchanged
    * re-delivery and every 8th a correction, on a fixed stride (a seeded
    * shuffle would give each seed its own op order, and order moves the
    * write median); maintenance at the middle and at the end. */
  private def ingestPlan(n: Int): Seq[Op] = {
    val body = (1 to n).map { i =>
      if (i % 6 == 0) SkipWrite else if (i % 8 == 4) Correction else Write
    }
    val (a, b) = body.splitAt(n / 2)
    (a :+ Maintain) ++ b :+ Maintain
  }

  /** dashboard_reads: 1-10 series over 1-3 days anywhere in the store,
    * the five read forms and readRunSeries equally often, in seeded
    * order. */
  private def dashboardPlan(n: Int, s: Store): Seq[Op] = {
    val lastVt = BaseHour + s.nextRun + Gen.Horizon // exclusive
    val forms = Query.Shapes :+ "run_series"
    val perForm = math.max(1, n / forms.length)
    rng.shuffle(forms.flatMap(f => Seq.fill(perForm)(f))).map {
      case "run_series" => RunSeries(1L + rng.nextInt(spec.nSeries))
      case shape =>
        val sids = rng.shuffle(allSids).take(1 + rng.nextInt(10)).sorted
        val len = 24L * (1 + rng.nextInt(3))
        val from = BaseHour + 1 + rng.nextInt((lastVt - BaseHour - 1 - len).toInt)
        Read(Query(shape, sids, from, from + len))
    }
  }

  /** Every op class the workload times, untimed, that the set-up builds
    * have not already run six times (single-run writes). Reads: four of
    * each read form and of readRunSeries; with one or two each, the first
    * timed reads still ran a quarter or more slower than the rest while
    * the JIT caught up. */
  private def warmUpPlan(s: Store): Seq[Op] = workload match {
    case "forecast_ingest" => Seq(SkipWrite, Correction, Maintain)
    case "dashboard_reads" => dashboardPlan(WarmUpReads, s)
  }

  private def planFor(s: Store, n: Int): Seq[Op] = workload match {
    case "forecast_ingest" => ingestPlan(n)
    case "dashboard_reads" => dashboardPlan(n, s)
  }

  // ---- the run -----------------------------------------------------------

  def run(sessionStartS: Double, traceOut: Option[String], builds: Int): Map[String, Any] = {
    delete(work + "/stores")
    // Set-up: `builds` identical builds (three when measuring); the median
    // is reported. All but the last are throw-away; the second carries the
    // untimed warm-up.
    val stores = (0 until builds).map { i =>
      val t = System.nanoTime()
      val s = build(s"$work/stores/build$i")
      (s, (System.nanoTime() - t) / 1e9)
    }
    val warm = stores(math.min(1, builds - 1))._1
    val warmStart = System.nanoTime()
    warmUpPlan(warm).foreach(execute(warm, _))
    val store = stores.last._1
    stores.init.foreach(b => delete(b._1.path))
    val setupFailed = errors.nonEmpty
    offeredRows = 0L
    rowsReturned = 0L
    settle()
    val warmupS = (System.nanoTime() - warmStart) / 1e9

    val plan = planFor(store, nOps)
    if (trace) { Profiling.reset(); Profiling.enable() }
    val gc0 = gcMillis()
    timing = true
    val wallStart = System.nanoTime()
    var failedOps = 0
    for ((op, i) <- plan.zipWithIndex) {
      tracer.op = i
      val pre = System.nanoTime()
      val c0 = if (trace) tracer.counts() else null
      val p0 = if (trace) Profiling.snapshot() else null
      val f0 = if (trace && op.cls == "write") store.db.store.currentFiles().length else 0
      traceOverheadNs += System.nanoTime() - pre
      val errs0 = errors.length
      val t = System.nanoTime()
      try tracer.span(s"op.${op.cls}")(execute(store, op))
      catch { case e: Exception => errors += s"op $i ${op.cls}: $e" }
      val ms = (System.nanoTime() - t) / 1e6
      attempted += 1
      samples.getOrElseUpdate(op.cls, ArrayBuffer.empty) += ms
      op match {
        case Read(q) => samples.getOrElseUpdate(s"read.${q.shape}", ArrayBuffer.empty) += ms
        case _ =>
      }
      if (errors.length > errs0) failedOps += 1
      if (trace) traceOp(store, op, c0, p0, f0)
    }
    val timedWallS = (System.nanoTime() - wallStart - traceOverheadNs) / 1e9
    timing = false
    tracer.op = -1
    val gcMs = gcMillis() - gc0
    profilingAtEnd = Profiling.snapshot()
    Profiling.disable()

    // Durability: a fresh facade on the same path must answer like the model.
    val errs0 = errors.length
    checkDurable(new Store(store.path), store.model,
      Query("latest", allSids, BaseHour + 1, BaseHour + store.nextRun + Gen.Horizon))
    val durabilityFailed = errors.length > errs0
    traceOut.foreach(f => writeFile(f, Json(traceRecord())))

    val bytesPerRow = storedBytes(store).toDouble / store.model.logicalRows
    // Set-up and the durability read count as one attempted op each.
    failedOps += (if (setupFailed) 1 else 0) + (if (durabilityFailed) 1 else 0)
    Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "ops" -> plan.length,
      "session_start_s" -> sessionStartS,
      "setup_builds_s" -> stores.map(_._2),
      "warmup_s" -> warmupS,
      "timed_wall_s" -> timedWallS,
      "offered_rows" -> offeredRows,
      "rows_returned" -> rowsReturned,
      "samples" -> samples,
      "attempted" -> (attempted + 2),
      "failed" -> failedOps,
      "errors" -> errors.toSeq,
      "bytes_per_row" -> bytesPerRow,
      "rss_peak_mb" -> rssPeakMb(),
      "gc_ms" -> gcMs,
      "layers" -> (if (trace) layerMetrics(store, plan, timedWallS, gcMs) else Map.empty))
  }

  /** Wall time the traced run spends between ops (counter drains, phase
    * snapshots, manifest probes); subtracted from the timed-phase wall. */
  private var traceOverheadNs = 0L

  /** Latest read on a freshly opened facade, folded to checksums in the
    * engine. */
  private def checkDurable(s: Store, model: Model, q: Query): Unit = {
    val df = s.db.read(filterOf(q))
    val r = df.agg(count(lit(1)), sum("value"),
      sum(col("series_id") * 1000003L + hourOfCol("valid_time") * 31L)).head()
    val got = Answer(r.getLong(0), r.getDouble(1), r.getLong(2))
    val want = model.expect(q)
    check(s"durability: reopened latest read got $got, want $want")(got == want)
  }

  private def settle(): Unit = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Bytes of the live snapshot's data files plus every run_series file. */
  private def storedBytes(s: Store): Long = {
    val rs = new Path(s.db.store.runSeriesPath)
    val fs = rs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(rs, true)
    var rsBytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_")) rsBytes += f.getLen
    }
    liveSizes(s).values.sum + rsBytes
  }

  // ---- traced-run layer numbers --------------------------------------------

  private def traceOp(s: Store, op: Op, c0: Counts, p0: Map[String, (Double, Long)], f0: Int): Unit = {
    val t = System.nanoTime()
    val d = tracer.counts() - c0
    opCounts.getOrElseUpdate(op.cls, ArrayBuffer.empty) += d
    val p1 = Profiling.snapshot()
    def phaseMs(k: String) =
      (p1.get(k).map(_._1).getOrElse(0.0) - p0.get(k).map(_._1).getOrElse(0.0)) * 1000
    op match {
      case Write | SkipWrite | Correction =>
        val vIns = phaseMs(Profiling.PhaseWriteSeriesValuesInsert)
        val rIns = phaseMs(Profiling.PhaseWriteRunSeriesInsert)
        note("series_store.values_insert_ms", vIns)
        note("series_store.run_series_insert_ms", rIns)
        // The two insert lanes run concurrently: their wall is the longer one.
        note("write_pipeline.prep_ms", phaseMs(Profiling.PhaseWriteTotal) - math.max(vIns, rIns))
        if (op == SkipWrite) {
          note("write_pipeline.skip_ms", phaseMs(Profiling.PhaseWriteSkipUnchanged))
          note("write_pipeline.skip_rows_read_per_row_offered", d.rowsRead.toDouble / perRun)
        }
        if (op == Write)
          note("series_store.files_per_append", (s.db.store.currentFiles().length - f0).toDouble)
      case Read(_) | RunSeries(_) =>
      case Maintain =>
    }
    val m = System.nanoTime()
    tracer.span("series_store.current_files")(s.db.store.currentFiles())
    note("series_store.manifest_read_ms", (System.nanoTime() - m) / 1e6)
    traceOverheadNs += System.nanoTime() - t
  }

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def layerMetrics(s: Store, plan: Seq[Op], wallS: Double, gcMs: Long): Map[String, Double] = {
    val all = opCounts.values.flatten.toSeq
    val reads = opCounts.getOrElse("read", ArrayBuffer.empty).toSeq
    def sumOf(cs: Seq[Counts])(f: Counts => Long): Double = cs.map(f).sum.toDouble
    def perOp(cs: Seq[Counts])(f: Counts => Long): Double =
      if (cs.isEmpty) 0.0 else sumOf(cs)(f) / cs.length
    def med(k: String) = median(layer.getOrElse(k, Nil))
    def sum(k: String) = layer.getOrElse(k, Nil).sum
    val spans = tracer.all.filter(_.op >= 0)
    def spanMed(name: String) = median(spans.filter(_.name == name).map(_.ms))
    val readRows = rowsReturned.toDouble
    val m = mutable.LinkedHashMap[String, Double](
      "timedb.read_plan_ms" -> spanMed("timedb.read"),
      "timedb.read_exec_ms" -> spanMed("timedb.collect"))
    Query.Shapes.foreach(sh => m(s"read_shapes.${sh}_p50_ms") = median(samples.getOrElse(s"read.$sh", Nil)))
    m ++= Seq(
      "series_store.rows_scanned_per_row_returned" ->
        (if (readRows == 0 || reads.isEmpty) 0.0 else sumOf(reads)(_.rowsRead) / readRows),
      "series_store.bytes_scanned_per_read" -> perOp(reads)(_.bytesRead),
      "series_store.files_per_read" -> perOp(reads)(_.files),
      "series_store.manifest_read_ms" -> med("series_store.manifest_read_ms"),
      "series_store.files_live" -> s.db.store.currentFiles().length.toDouble,
      "series_store.manifest_versions" -> s.db.store.versions().length.toDouble,
      "series_store.values_insert_ms" -> med("series_store.values_insert_ms"),
      "series_store.run_series_insert_ms" -> med("series_store.run_series_insert_ms"),
      "series_store.files_per_append" -> med("series_store.files_per_append"),
      "write_pipeline.prep_ms" -> med("write_pipeline.prep_ms"),
      "write_pipeline.skip_ms" -> med("write_pipeline.skip_ms"),
      "write_pipeline.skip_rows_read_per_row_offered" -> med("write_pipeline.skip_rows_read_per_row_offered"),
      "write_pipeline.skip_kept_ratio" -> med("write_pipeline.skip_kept_ratio"),
      "series_store.compact_s" -> sum("series_store.compact.s"),
      "series_store.compact_bytes_rewritten" -> sum("series_store.compact_bytes_rewritten"),
      "series_store.expire_s" -> sum("series_store.expire.s"),
      "series_store.vacuum_s" -> sum("series_store.vacuum.s"),
      "series_store.values_bytes_per_row" -> liveSizes(s).values.sum.toDouble / s.model.logicalRows,
      "series_store.disk_bytes_per_row" -> diskBytes(s).toDouble / s.model.logicalRows,
      "spark.jobs_per_write" -> perOp(opCounts.getOrElse("write", ArrayBuffer.empty).toSeq)(_.jobs),
      "spark.jobs_per_skip_write" -> perOp(opCounts.getOrElse("skip_write", ArrayBuffer.empty).toSeq)(_.jobs),
      "spark.jobs_per_read" -> perOp(reads)(_.jobs),
      "spark.tasks_per_op" -> perOp(all)(_.tasks),
      "spark.task_busy_ratio" -> sumOf(all)(_.taskRunMs) / (wallS * 1000 * cores),
      "spark.shuffle_bytes_per_op" -> perOp(all)(_.shuffleBytes),
      "spark.spill_bytes" -> sumOf(all)(_.spillBytes),
      "spark.cpu_ns_per_row_scanned" ->
        (if (sumOf(all)(_.rowsRead) == 0) 0.0 else sumOf(all)(_.cpuNs) / sumOf(all)(_.rowsRead)),
      "jvm.gc_ms_per_op" -> gcMs.toDouble / plan.length)
    m.toMap
  }

  /** The traced run's record: every span, each op's engine counters, and
    * the Profiling phases of the timed phase. */
  private def traceRecord(): Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed,
    "spans" -> tracer.all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
    "self_times" -> tracer.selfTimes.map { case (k, (n, tot, self)) =>
      k -> Map("calls" -> n, "total_ms" -> tot, "self_ms" -> self) },
    "op_counts" -> opCounts.map { case (cls, cs) => cls -> cs.map(c => Map(
      "jobs" -> c.jobs, "tasks" -> c.tasks, "task_run_ms" -> c.taskRunMs, "cpu_ns" -> c.cpuNs,
      "gc_ms" -> c.gcMs, "rows_read" -> c.rowsRead, "bytes_read" -> c.bytesRead,
      "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes, "files" -> c.files)) },
    "profiling" -> profilingAtEnd.map { case (k, (secs, n)) => k -> Map("s" -> secs, "calls" -> n) })

  private var profilingAtEnd: Map[String, (Double, Long)] = Map.empty

  /** Every byte under the store's directory, garbage included. */
  private def diskBytes(s: Store): Long = {
    val root = new Path(s.path)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(root).getLength
  }
}
