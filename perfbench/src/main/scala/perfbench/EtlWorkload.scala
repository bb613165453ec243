package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.json4s._

/** `gdelt_etl`: the paper's pipeline through `graft.cli.Main`, one command
  * at a time — convert, filter, three samples, then the one-shot
  * `pipeline` over the same raw files.
  *
  * The raw files come from gen_gdelt.py with the run's seed; its truth.json
  * holds the counts each stage must reproduce. The set-up starts the
  * session, runs the chain once on a small fixed-seed data set whose
  * sample checksums are committed in the goldens, then [[WarmUps]] times on
  * the run's own files. Every pass first resets the inputs, outside the
  * timed region: Convert.markDone leaves `.done` markers beside the raw
  * files (a second pass would convert nothing) and the flat sink appends,
  * so both go. */
final class EtlWorkload(a: Args, cpus: Int) {
  import EtlWorkload._

  private final case class Op(name: String, args: Seq[String])

  private def chain(raw: Path, out: String): Seq[Op] = {
    val files = listFiles(raw).filterNot(_.endsWith(".done"))
    val filtered = s"$out/filtered"
    val sample = Seq("sample", "--in", filtered, "--seed", SampleSeed)
    Seq(
      Op("convert", "convert" +: "--in" +: files ++:
        Seq("--flat-out", s"$out/flat", "--hist-out", s"$out/hist")),
      Op("filter", Seq("filter", "--in", s"$out/flat", "--out", filtered)),
      Op("sample_indexed", sample ++ Seq("--mode", "indexed", "-n", SampleN,
        "--out", s"$out/sample_indexed")),
      Op("sample_daily", sample ++ Seq("--mode", "daily", "--per-day", PerDay,
        "--out", s"$out/sample_daily")),
      Op("sample_stratified", sample ++ Seq("--mode", "filtered", "--filter", Dsl,
        "--stratify", "EventRootCode", "--n-per-group", PerGroup,
        "--out", s"$out/sample_stratified")),
      Op("pipeline", Seq("pipeline", "--in", pipelineRaw(raw), "--out", s"$out/pipeline",
        "--start-day", RangeStart, "--end-day", RangeEnd, "--per-day", PerDay,
        "--seed", SampleSeed)))
  }

  /** The `pipeline` command's input: the daily and monthly files only. At
    * the seed commit `pipeline` fails with CONFLICTING_PARTITION_COLUMN_NAMES
    * when monthly and yearly files meet in its Hive tree (NOTES.md). */
  private def pipelineRaw(raw: Path): String = raw.resolveSibling("pipeline_raw").toString

  /** Deletes the `.done` markers beside the raw files and the outputs. */
  private def reset(raw: Path, out: String): Unit = {
    listFiles(raw).filter(_.endsWith(".done")).foreach(f => Files.delete(Paths.get(f)))
    graft.util.Scratch.deleteRecursively(out)
  }

  def run(): Outcome = {
    val goldenRaw = Paths.get(a.etlGolden, "raw")
    val goldenTruth = Json.read(s"${a.etlGolden}/truth.json")
    val raw = Paths.get(a.etlInputs, "raw")
    val truth = Json.read(s"${a.etlInputs}/truth.json")
    val goldenSums = Json.read(a.goldens) \ "samples"
    val failedOps = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L

    def runChain(spark: SparkSession, ops: Seq[Op], tracer: Tracer,
        onOp: (Op, Double, Span) => Unit): Unit =
      ops.foreach { op =>
        attempted += 1
        val (r, s) = tracer.span(op.name, "op")(Try(graft.cli.Main.main(op.args.toArray)))
        r.failed.foreach(e => failedOps.getOrElseUpdate(op.name, QueryWorkload.brief(e)))
        onOp(op, s.seconds, s)
      }

    // ---- set-up: session start and the chain on the golden data, checked
    val goldenOut = s"${a.work}/etl-golden"
    val t0 = System.nanoTime()
    val spark = Session.start(cpus, a.etlInputs, a.work)
    reset(goldenRaw, goldenOut)
    runChain(spark, chain(goldenRaw, goldenOut), new Tracer(spark), (_, _, _) => ())
    val (problems, goldenReport) = check(spark, goldenTruth, goldenOut)
    var warmUpS = 0.0
    if (!a.writeGoldens) for (_ <- 1 to WarmUps) {
      val out = s"${a.work}/etl-pass"
      reset(raw, out)
      val w0 = System.nanoTime()
      runChain(spark, chain(raw, out), new Tracer(spark), (_, _, _) => ())
      warmUpS = (System.nanoTime() - w0) / 1e9
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    problems.foreach { case (op, why) => failedOps.getOrElseUpdate(op, s"golden data: $why") }
    goldenReport.foreach { case (k, v) =>
      val want = (goldenSums \ k).extractOpt[String](DefaultFormats, manifest[String])
      if (!want.contains(v)) failedOps.getOrElseUpdate(k,
        s"golden data: sample checksum $v != golden ${want.getOrElse("<none>")}")
    }
    reset(goldenRaw, goldenOut)
    if (a.writeGoldens) {
      Session.stop(spark)
      Json.write(a.goldens, Map("samples" -> goldenReport))
      return Outcome(attempted, failedOps.size.toLong, Nil, Map("failures" -> failedOps.toMap))
    }
    val conf = Session.describe(spark)

    // ---- timed passes
    val tracer = new Tracer(spark)
    val walls, tracedWalls, resample, heapPeaks = mutable.ArrayBuffer.empty[Double]
    val opSecs = mutable.ArrayBuffer.empty[Double]
    val ledger = mutable.ArrayBuffer.empty[Map[String, Any]]
    Stats.settleHeap()
    val heap = new OldGenPeak
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var passNo = 0
    def pass(traced: Boolean): Double = {
      passNo += 1
      val out = s"${a.work}/etl-pass"
      reset(raw, out)
      if (traced) tracer.attach()
      val opRows = mutable.ArrayBuffer.empty[Map[String, Any]]
      var sampleSecs = 0.0
      val (_, runSpan) = tracer.span(s"pass$passNo", "run") {
        runChain(spark, chain(raw, out), tracer, { (op, secs, span) =>
          if (!traced) opSecs += secs
          if (op.name.startsWith("sample")) sampleSecs += secs
          if (traced) opRows += opLedger(op.name, span, tracer.drainExecutions())
        })
      }
      if (traced) tracer.detach()
      Stats.settleHeap()
      if (!traced) heapPeaks += heap.sinceLast()
      check(spark, truth, out)._1.foreach { case (op, why) => failedOps.getOrElseUpdate(op, why) }
      if (traced) {
        val files = Seq("flat", "hist", "filtered").map(d => countFiles(s"$out/$d")).sum
        ledger ++= opRows.map(_ ++ Map("pass" -> passNo, "etl_files_written" -> files))
      } else resample += sampleSecs
      runSpan.seconds
    }
    if (a.trace) {
      // untraced and traced passes alternate, starting and ending untraced
      while (tracedWalls.isEmpty || walls.size <= tracedWalls.size ||
          System.nanoTime() < deadline)
        if (walls.size <= tracedWalls.size) walls += pass(traced = false)
        else tracedWalls += pass(traced = true)
    } else {
      val passes = math.max(MinPasses.toLong, math.round(a.seconds / warmUpS))
      while (walls.size < passes) walls += pass(traced = false)
    }
    heap.stop()
    Session.stop(spark)
    reset(raw, s"${a.work}/etl-pass")

    val ops = chain(raw, "").size
    val lines = (truth \ "lines").extract[Long](DefaultFormats, manifest[Long])
    val info = Map[String, Any]("passes_s" -> walls, "traced_passes_s" -> tracedWalls,
      "setup_s" -> setupS, "op_samples" -> opSecs.size,
      "failures" -> failedOps.toMap, "conf" -> conf, "golden_sample_checksums" -> goldenReport,
      "raw_lines" -> lines,
      "raw_bytes" -> (truth \ "raw_bytes").extract[Long](DefaultFormats, manifest[Long]))
    if (!a.trace) {
      Outcome(attempted, failedOps.size.toLong, Seq(
        ("setup_s", setupS, "s"),
        ("run_s", Stats.median(walls.toSeq), "s"),
        ("throughput", lines / Stats.median(walls.toSeq), "1/s"),
        ("query_p50_s", Stats.hdQuantile(opSecs.toSeq, 0.5), "s"),
        ("query_p90_s", Stats.hdQuantile(opSecs.toSeq, 0.9), "s"),
        ("resample_s", Stats.median(resample.toSeq), "s"),
        // add-one smoothed, so that it is never 0
        ("fail_share", (failedOps.size + 1.0) / (ops + 1.0), "1"),
        ("peak_heap_mb", Stats.median(heapPeaks.toSeq), "MB")), info)
    } else {
      Outcome(attempted, failedOps.size.toLong, Seq(
        ("trace.overhead_s", Stats.overhead(walls.toSeq, tracedWalls.toSeq), "s")),
        info + ("untraced_run_s" -> Stats.median(walls.toSeq)) +
          ("traced_run_s" -> Stats.median(tracedWalls.toSeq)),
        ledger.toSeq, tracer.spanRecords)
    }
  }

  /** One ledger row per command: the listener counters of its span, its
    * executions' planning phases, and what the gdelt-tsv scans planned and
    * parsed (pipeline only). */
  private def opLedger(name: String, span: Span,
      execs: Seq[(String, QueryExecution, Boolean)]): Map[String, Any] = {
    val phases = execs.map(e => Tracer.phases(e._2))
    def phase(k: String) = phases.map(_.getOrElse(k, 0.0)).sum
    val scans = execs.flatMap(e => Try(nodes(e._2.executedPlan).toSeq).getOrElse(Nil))
      .collect { case b: BatchScanExec if b.scan.getClass.getName.contains("GdeltTsv") => b }
    val scanBytes = scans.flatMap(b => Try(b.inputPartitions.toSeq).getOrElse(Nil)).map {
      case p: Product => p.productElementNames.zip(p.productIterator)
        .collectFirst { case ("length", l: Long) => l }.getOrElse(0L)
      case _ => 0L
    }.sum
    val scanRows = scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    Map("op" -> name, "wall_s" -> span.seconds, "sql_execs" -> execs.size,
      "analysis_s" -> phase("analysis"), "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"), "counters" -> span.snapshot,
      "tsv_scan_bytes" -> scanBytes, "tsv_rows_parsed" -> scanRows)
  }

  /** Compares the outputs under `out` with the generator's truth. Returns
    * (op, problem) pairs and the order-insensitive sample checksums. */
  private def check(spark: SparkSession, truth: JValue, out: String)
      : (Seq[(String, String)], Map[String, String]) = {
    implicit val formats: Formats = DefaultFormats
    val problems = mutable.ArrayBuffer.empty[(String, String)]
    def expect(op: String, what: String, got: => Long, want: Long): Unit =
      Try(got) match {
        case Success(g) if g == want => ()
        case Success(g) => problems += op -> s"$what: $g != expected $want"
        case Failure(e) => problems += op -> s"$what: ${QueryWorkload.brief(e)}"
      }
    // recursive lookup: the Hive tree mixes Year= and Year=/MonthYear= leaves
    def count(dir: String): Long =
      spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    val rows = (truth \ "rows").extract[Map[String, Long]]
    expect("convert", "flat rows", count(s"$out/flat"), rows("daily"))
    expect("convert", "historical rows", count(s"$out/hist"), rows("monthly") + rows("yearly"))
    expect("filter", "kept rows", count(s"$out/filtered"), (truth \ "filter_kept_daily").extract[Long])
    expect("pipeline", "filtered rows", count(s"$out/pipeline/filtered"),
      (truth \ "pipeline_kept").extract[Long])
    def sampleOf(dir: String): Seq[(Long, Long, String)] =
      spark.read.parquet(dir).select("GlobalEventID", "Day", "EventRootCode").collect().toSeq
        .map(r => (r.getDouble(0).toLong, r.getLong(1), r.getString(2)))
    def perKey(op: String, got: Seq[String], capAt: Long, counts: Map[String, Long]): Unit = {
      val want = counts.map { case (k, c) => k -> math.min(c, capAt) }.filter(_._2 > 0)
      val have = got.groupBy(identity).view.mapValues(_.size.toLong).toMap
      if (have != want) problems += op -> s"per-group sizes differ from truth (${have.size} vs ${want.size} groups)"
    }
    val perDay = (truth \ "sample" \ "per_day").extract[Long]
    val samples = Seq("sample_indexed", "sample_daily", "sample_stratified", "pipeline")
      .flatMap { op =>
        val dir = if (op == "pipeline") s"$out/pipeline/sample" else s"$out/$op"
        Try(sampleOf(dir)) match {
          case Failure(e) => problems += op -> s"sample: ${QueryWorkload.brief(e)}"; None
          case Success(s) => Some(op -> s)
        }
      }.toMap
    samples.get("sample_indexed").foreach(s => expect("sample_indexed", "sample size",
      s.size.toLong, (truth \ "expect" \ "indexed").extract[Long]))
    samples.get("sample_daily").foreach(s => perKey("sample_daily", s.map(_._2.toString),
      perDay, (truth \ "per_day_daily").extract[Map[String, Long]]))
    samples.get("sample_stratified").foreach(s => perKey("sample_stratified", s.map(_._3),
      (truth \ "sample" \ "per_group").extract[Long],
      (truth \ "dsl_per_stratum").extract[Map[String, Long]]))
    samples.get("pipeline").foreach(s => perKey("pipeline", s.map(_._2.toString),
      perDay, (truth \ "pipeline_per_day").extract[Map[String, Long]]))
    (problems.toSeq, samples.map { case (k, s) => k -> digest(s.map(_._1)) })
  }
}

object EtlWorkload {
  /** Untimed passes over the run's own files in the set-up. A fresh JVM
    * keeps compiling the code the commands run for several passes: after
    * two runs of the chain on the small golden set alone, the timed passes
    * still sped up by a quarter from the first to the fourth. */
  val WarmUps = 2

  /** Timed passes at least; beyond that, as many as fit the run's time at
    * the last warm-up pass's speed. A count fixed before timing, not a
    * deadline, so that no run takes its median over one pass more or less
    * of a pass-to-pass drift. */
  val MinPasses = 4

  // must match gen_gdelt.py
  val SampleN = "500"
  val PerDay = "40"
  val PerGroup = "100"
  val Dsl = """{"GoldsteinScale": {"op": "between", "min": -5, "max": 5}, "QuadClass": [1, 2, 4]}"""
  val RangeStart = "20231101"
  val RangeEnd = "20240131"
  val SampleSeed = "17"

  def listFiles(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.toString).toSeq.sorted

  def countFiles(dir: String): Long =
    if (!Files.isDirectory(Paths.get(dir))) 0L
    else Files.walk(Paths.get(dir)).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("part-")).toLong

  /** Every node of an executed plan, through adaptive plans and stages. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other.children.iterator.flatMap(nodes)
  })

  /** SHA-256 over the sorted ids: a checksum no row order can change. */
  def digest(ids: Seq[Long]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(ids.sorted.mkString(",").getBytes(StandardCharsets.UTF_8))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
