package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{EdfPipeline, GraftSession, SparkEntry, Tables}
import graft.sources.{EdfFile, EdfOnsetIndex, EdfSink}

/** The benchmark's JVM side: sets up one workload, runs it closed-loop
  * (one client, next op after the previous returns) and writes every
  * observation as JSON for `perfbench/run.py` to reduce to metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE --cores N --reference FILE [--write-reference 1]
  */
object Main {
  /** Star-schema tables are one fixed snapshot per workload (scale in
    * `Workloads.tableScale`), like a landed dataset: the reference
    * fingerprints are computed on it. The run seed drives everything else
    * (EDF content, gap positions, windows, op order). */
  val TableSeed = 42L
  /** Setup is repeated this many times per run; the median is reported. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val run = new Run(
      workload = arg("workload"), seed = arg("seed").toLong, seconds = arg("seconds").toDouble,
      traced = arg("trace") == "1", work = arg("work"), cores = arg("cores").toInt,
      reference = arg("reference"), writeReference = a.get("write-reference").contains("1"))
    val result = run.execute()
    writeJson(arg("out"), result)
  }

  private lazy val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The result tree (maps, sequences, numbers, strings) as a JSON file. */
  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}

/** One op of a workload. `kind` groups ops for reporting. */
sealed trait Op { def name: String; def kind: String; def module: String }
final case class QueryOp(name: String) extends Op {
  def kind = "query"
  def module: String = Workloads.module(name)
}
/** Aggregate (count, sum(value)) of an EDF read: `chans` over records
  * [recLo, recHi) of `rec`, or a header-only channel listing when `meta`. */
final case class EdfReadOp(name: String, recs: Seq[EdfRecording], chans: Seq[Int],
                           recLo: Int, recHi: Int, meta: Boolean = false) extends Op {
  def kind = "edf_read"
  def module = "sources"
}
final case class ProcessOp(name: String, rec: EdfRecording, mode: String) extends Op {
  def kind = "edf_process"
  def module = "EdfPipeline"
}

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean, work: String,
                cores: Int, reference: String, writeReference: Boolean) {
  require(Workloads.names.contains(workload), s"unknown workload '$workload'; known: ${Workloads.names.mkString(", ")}")
  private var spark: SparkSession = _
  /** The tracer while a traced pass runs, else null: nothing is recorded. */
  private var tracer: Tracer = _
  private var dataDir: String = _
  private val outDir = s"$work/edf-out"
  private val rnd = new java.util.Random(seed)
  private var recs: Map[String, EdfRecording] = Map.empty
  private val opRecords = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val refs = Fingerprint.readReference(reference)
  private val newRefs = mutable.LinkedHashMap.empty[String, Fingerprint]
  private val tableScale = Workloads.tableScale(workload)
  private var nextOpId = 0

  private def session(local: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$local/spark-local")
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session start, input generation and catalog registration. Tearing
    * down the previous set-up, and collecting what it left on the heap, is
    * not part of it. */
  private def setup(k: Int): Double = {
    if (spark != null) {
      spark.stop(); spark = null
      deleteRecursively(new File(s"$work/setup-${k - 1}"))
      System.gc()
    }
    val t0 = System.nanoTime()
    val dir = s"$work/setup-$k"
    new File(dir).mkdirs()
    spark = session(dir)
    val edfRnd = new java.util.Random(seed)
    recs = Workloads.recordings(workload, s"$dir/edf", edfRnd)
    new File(s"$dir/edf").mkdirs()
    recs.values.foreach(_.write())
    val tables = Workloads.tables(workload)
    if (tables.nonEmpty) {
      dataDir = s"$dir/tables"
      Gen.writeTables(spark, dataDir, tableScale, Main.TableSeed, tables)
      Tables.register(spark, dataDir, db = s"perfbench_$k")
    }
    // land-time indexing of the recordings the reads window into
    if (workload == "interactive") EdfOnsetIndex.ensure(spark, recs.values.map(_.path).toSeq)
    (System.nanoTime() - t0) / 1e9
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  private def fsReadBytes(): Long = {
    @annotation.nowarn("cat=deprecation")
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    stats.map(_.getBytesRead).sum
  }

  private def span[T](name: String)(body: => T): T =
    if (tracer != null) tracer.span(name)(body) else body

  /** name -> (size, mtime): an overwrite rewrites files under the same
    * names and sizes, so the mtime tells what a sink call wrote. */
  private def dirFiles(d: String): Map[String, (Long, Long)] =
    Option(new File(d).listFiles()).toSeq.flatten.filter(_.isFile)
      .map(f => f.getName -> ((f.length, f.lastModified))).toMap

  /** graft's EDF source; traced passes read it through [[TimedEdfSource]]. */
  private def edfFormat: String = if (tracer != null) TimedEdf.format else "edf"

  /** Run one op; returns its record. Every result is checked, after the
    * timed interval. */
  private def runOp(op: Op, pass: Int): mutable.LinkedHashMap[String, Any] = {
    val id = nextOpId; nextOpId += 1
    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "pass" -> pass, "name" -> op.name,
      "kind" -> op.kind, "module" -> op.module)
    var verify: () => Option[String] = () => None
    val bytes0 = fsReadBytes()
    val before = if (op.kind == "edf_process") dirFiles(outDir) else Map.empty[String, (Long, Long)]
    val t0 = System.nanoTime()
    val startMs = if (tracer != null) Tracer.nowMs else 0.0
    val error: Option[String] =
      try {
        def body(): Unit = op match {
          case QueryOp(name) =>
            val build = SparkEntry.queries(name)
            val df = if (tracer != null) {
              spark.sparkContext.setLocalProperty(Tracer.BuildKey, "1")
              try span("entry.build")(build(spark, dataDir))
              finally spark.sparkContext.setLocalProperty(Tracer.BuildKey, null)
            } else build(spark, dataDir)
            // forced like the noop sink forces it, and fingerprinted on the way
            val fp = span("op.execute")(CheckSink.run(df))
            verify = () => checkQuery(name, fp)
          case r: EdfReadOp =>
            val df = edfRead(r)
            val row = span("op.execute") {
              if (r.meta) df.agg(count(lit(1)), sum(col("samples_per_record") * col("n_records"))).head()
              else df.agg(count(lit(1)), sum(col("value"))).head()
            }
            val n = row.getLong(0)
            val s = if (r.meta) row.getLong(1).toDouble else row.getDouble(1)
            rec("needed_bytes") = edfNeededBytes(r)
            verify = () => checkRead(r, n, s)
          case p: ProcessOp =>
            val files = Seq(p.rec.path)
            if (tracer == null) EdfPipeline.process(spark, files, outDir, p.mode)
            else span("pipeline.process") {
              span("sources.onset_index")(EdfOnsetIndex.ensure(spark, files))
              val samples = spark.read.format(edfFormat).load(files: _*)
              span("sources.sink")(EdfSink.write(samples, outDir, mode = p.mode))
            }
            rec("in_bytes") = p.rec.fileBytes
            rec("needed_bytes") = p.rec.fileBytes
            if (p.mode == "append") verify = () => IngestCheck(recs, outDir)
        }
        if (tracer != null) tracer.op(id, op.name)(body()) else body()
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracer != null) {
      rec("start_ms") = startMs; rec("end_ms") = startMs + ms
      // the EDF scans' input-partition builds this op ran
      val plans = TimedEdf.drain()
      plans.foreach(pl => tracer.addSpan(id, "sources.plan", pl.startMs, pl.endMs))
      rec("splits") = plans.map(_.splits).sum
    }
    rec("ms") = ms
    rec("read_bytes") = fsReadBytes() - bytes0
    if (op.kind == "edf_process") {
      val after = dirFiles(outDir)
      val written = after.filter { case (f, n) => !before.get(f).contains(n) }
      rec("sink_out_bytes") = written.values.map(_._1).sum
      rec("sink_files") = written.size
    }
    val failure = error.orElse(try verify() catch { case e: Throwable => Some(s"check failed: $e") })
    rec("ok") = failure.isEmpty
    failure.foreach(f => rec("error") = f)
    // hygiene outside the timed interval: no op may read another's cache
    try spark.catalog.clearCache() catch { case _: Throwable => }
    opRecords += rec
    rec
  }

  private def edfRead(r: EdfReadOp): DataFrame =
    if (r.meta) EdfFile.channels(spark, r.recs.map(_.path))
    else {
      val rec = r.recs.head
      val conds = Seq(
        if (r.chans.size < rec.nSig) Some(col("channel").isin(r.chans.map(rec.labels): _*)) else None,
        if (r.recLo > 0 || r.recHi < rec.nRec)
          Some(col("ts_us") >= rec.recordStartUs(r.recLo) && col("ts_us") < rec.recordStartUs(r.recHi - 1) + 1000000L)
        else None).flatten
      val df = spark.read.format(edfFormat).load(rec.path)
      conds.reduceOption(_ && _).fold(df)(df.filter)
    }

  private def edfNeededBytes(r: EdfReadOp): Long =
    if (r.meta) r.recs.map(_.headerBytes.toLong).sum
    else r.chans.map(c => r.recs.head.rates(c).toLong * (r.recHi - r.recLo) * 2).sum

  /** Count must match exactly; the sum within 1e-9 of the sum of |values|
    * (summation order differs between readers and partitionings). */
  private def checkRead(r: EdfReadOp, n: Long, s: Double): Option[String] = {
    val (en, es, tol) =
      if (r.meta) {
        val chans = r.recs.map(_.nSig).sum.toLong
        val samples = r.recs.map(x => x.rates.map(_.toLong * x.nRec).sum).sum.toDouble
        (chans, samples, 0.0)
      } else {
        val (c, sum, abs) = r.recs.head.windowExpect(r.chans, r.recLo, r.recHi)
        (c, sum, abs * 1e-9)
      }
    if (n != en) Some(s"${r.name}: count $n, expected $en")
    else if (math.abs(s - es) > tol) Some(s"${r.name}: sum $s, expected $es ± $tol")
    else None
  }

  private def checkQuery(name: String, fp: Fingerprint): Option[String] = {
    if (writeReference) newRefs.get(name) match {
      // a fingerprint to commit must repeat on every call
      case Some(first) if first != fp && !Workloads.countAndSchemaOnly.contains(name) =>
        Some(s"$name: got ${fp.line(name)}, an earlier call gave ${first.line(name)}")
      case _ => newRefs.getOrElseUpdate(name, fp); None
    }
    else refs.get(name) match {
      case None => Some(s"$name: no reference fingerprint")
      case Some(ref) if Workloads.countAndSchemaOnly.contains(name) =>
        if (ref.rows == fp.rows && ref.schema == fp.schema) None
        else Some(s"$name: got ${fp.rows} rows [${fp.schema}], reference ${ref.rows} rows [${ref.schema}]")
      case Some(ref) =>
        if (ref == fp) None else Some(s"$name: got ${fp.line(name)}, reference ${ref.line(name)}")
    }
  }

  /** Where the op cycle starts, drawn from the seed. The cycle itself is
    * fixed: with a full shuffle per seed, an op's latency moved by up to
    * 1.8x with what ran before it, which would swamp any change a later
    * commit makes. Every pass starts at the same place. */
  private val rotation = new java.util.Random(seed ^ 0x5DEECE66DL).nextInt(1 << 16)

  private def rotated[T](xs: Seq[T]): Seq[T] = {
    val k = rotation % xs.size
    xs.drop(k) ++ xs.take(k)
  }

  /** One pass over every op of the workload. */
  private def passOps(): Seq[Op] = workload match {
    case "edf_ingest" => Seq(ProcessOp("process_overwrite", recs("a"), "overwrite"),
      ProcessOp("process_append", recs("b"), "append"))
    case "batch_heavy" => rotated(Workloads.batchHeavy.map(QueryOp))
    case "interactive" =>
      val c = recs("c"); val d = recs("d")
      val queries = Workloads.interactive.map(QueryOp)
      // two queries, then one EDF read: the reads stay a minority, so the
      // median op latency lies inside the query population
      val reads = (0 until (queries.size + 1) / 2).map { i =>
        def pick2 = { val x = rnd.nextInt(c.nSig); Seq(x, (x + 1 + rnd.nextInt(c.nSig - 1)) % c.nSig) }
        val win = math.max(1, c.nRec / 100)
        def lo = rnd.nextInt(c.nRec - win + 1)
        i % 5 match {
          case 0 => EdfReadOp("edf_channels", Seq(c), pick2, 0, c.nRec)
          case 1 => val l = lo; EdfReadOp("edf_window", Seq(c), c.labels.indices, l, l + win)
          case 2 => val l = lo; EdfReadOp("edf_chan_window", Seq(c), pick2, l, l + win)
          case 3 =>
            // a fixed-size window inside one seeded segment (every segment
            // holds at least SegmentWindow records)
            val (first, n) = d.segmentRecords(rnd.nextInt(d.segments.size))
            val l = first + rnd.nextInt(n - Workloads.SegmentWindow + 1)
            EdfReadOp("edf_segment", Seq(d), d.labels.indices, l, l + Workloads.SegmentWindow)
          case _ => EdfReadOp("edf_meta", Seq(c, d), Nil, 0, 0, meta = true)
        }
      }
      rotated(queries.grouped(2).toSeq.zip(reads).flatMap { case (qs, r) => qs :+ r })
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII).trim
    catch { case _: Throwable => "" }

  private def peakRssKiB(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  def execute(): Map[String, Any] = {
    val loadStart = loadavg()
    val setupS = (1 to Main.Setups).map(setup)
    val installed = if (traced) new Tracer(spark.sparkContext) else null
    // warm-up: every op once; its time is reported apart
    val w0 = System.nanoTime()
    passOps().foreach(op => runOp(op, 0))
    val warmupS = (System.nanoTime() - w0) / 1e9
    // timed region: whole passes until `seconds` have elapsed. A traced run
    // orders its passes untraced, traced, traced, untraced, ... so that the
    // warming JVM biases neither side of the tracing overhead; the listeners
    // are attached during traced passes only
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    val minPasses = if (traced) 4 else Workloads.minPasses(workload)
    var p = 1
    while (p <= minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tracedPass = traced && (p % 4 == 2 || p % 4 == 3)
      if (tracedPass) { Tracer.attach(spark, installed); tracer = installed }
      val recsOfPass = passOps().map(op => runOp(op, p))
      if (tracedPass) { tracer = null; Tracer.detach(spark, installed) }
      passes += Map("pass" -> p, "traced" -> tracedPass,
        "wall_s" -> recsOfPass.map(_("ms").asInstanceOf[Double]).sum / 1000)
      p += 1
    }
    if (writeReference)
      Files.write(Paths.get(s"$work/reference.tsv"), newRefs.map { case (n, fp) => fp.line(n) }.toSeq.sorted
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    if (installed != null) {
      opRecords.foreach { r =>
        val c = installed.countersFor(r("id").asInstanceOf[Int])
        r ++= Seq("jobs" -> c.jobs, "build_jobs" -> c.buildJobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_run_ms" -> c.taskRunMs, "task_cpu_ns" -> c.taskCpuNs, "gc_ms" -> c.gcMs,
          "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
          "shuffle_records_written" -> c.shuffleRecordsWritten, "fetch_wait_ms" -> c.fetchWaitMs,
          "spill_mem_bytes" -> c.spillMemBytes, "spill_disk_bytes" -> c.spillDiskBytes,
          "input_bytes" -> c.inputBytes, "input_records" -> c.inputRecords,
          "sink_merge_spills" -> c.sinkMergeSpills, "analysis_ms" -> c.analysisMs,
          "optimization_ms" -> c.optimizationMs, "planning_ms" -> c.planningMs,
          "stage_intervals" -> c.stageIntervals.map { case (s, e) => Seq(s, e) })
      }
      Main.writeJson(s"$work/spans.json", installed.allSpans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)))
    }
    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "table_scale" -> tableScale, "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "setup_s" -> setupS, "warmup_s" -> warmupS, "passes" -> passes, "ops" -> opRecords,
      "peak_rss_kib" -> peakRssKiB())
    spark.stop()
    result
  }
}
