package perfbench

import scala.collection.mutable
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

import graft.queries._

/** Expected output of one query on the committed fixture. */
final case class Golden(rows: Option[Long], checksum: Option[String])

/** `queries_tabular` and `queries_corpus`: query suites over the committed
  * fixture, one query at a time on one client thread.
  *
  * A full pass over a suite takes 80-100 s on 4 cores, far longer than one
  * benchmark run may last, so a run times a fixed panel of the suite (see
  * [[QueryWorkload.Panels]]); the seed picks the order.
  *
  * A run is: the set-up, a session start plus [[WarmUps]] warm-up passes
  * that check every query's row count and content checksum against the
  * goldens; then timed passes in whole rotation cycles (see [[rotation]]),
  * as many cycles as fit the run's time at the last warm-up pass's speed,
  * at least one. Every pass starts from cleared memos, so memo builds and
  * construction-time actions are inside the time. The traced run
  * alternates untraced and traced passes until the time is up. */
final class QueryWorkload(a: Args, cpus: Int) {
  import QueryWorkload._

  private val suite: Map[String, QueryFn] = a.workload match {
    case "queries_tabular" =>
      ParityQueries.queries ++ EngineQueries.queries ++ AnalyticsQueries.queries ++
        EvalQueries.queries ++ DataQualityQueries.queries ++ StatsQueries.queries ++
        MonitorQueries.queries ++ PipelineQueries.queries
    case "queries_corpus" =>
      TextQueries.queries ++ DedupQueries.queries ++ SimilarityQueries.queries ++
        MultimodalQueries.queries
  }

  def run(): Outcome = if (a.writeGoldens) writeGoldens() else bench()

  // ------------------------------------------------------------ benchmark

  private def bench(): Outcome = {
    val goldens = loadGoldens(a.goldens)
    val queries = Panels(a.workload)
    val rng = new Random(a.seed)
    var attempted = 0L
    val failedQueries = mutable.LinkedHashMap.empty[String, String]
    def fail(q: String, why: String): Unit = failedQueries.getOrElseUpdate(q, why)

    /** Compares one execution's output with the query's golden. */
    def verify(q: String, out: Either[String, Written]): Unit = out match {
      case Left(err) => fail(q, err)
      case Right(w) => goldens.get(q) match {
        case None => fail(q, "no golden")
        case Some(g) =>
          if (!g.rows.forall(_ == w.rows)) fail(q, s"rows ${w.rows} != golden ${g.rows.get}")
          else if (!g.checksum.forall(_ == w.checksum))
            fail(q, s"checksum ${w.checksum} != golden ${g.checksum.get}")
      }
    }

    // ---- set-up: session start and warm-up passes verifying every query
    val t0 = System.nanoTime()
    val spark = Session.start(cpus, a.fixture, a.work)
    var warmUpS = 0.0
    for (_ <- 1 to WarmUps) {
      clearMemos(spark)
      val w0 = System.nanoTime()
      for (q <- rng.shuffle(queries)) {
        attempted += 1
        verify(q, execute(spark, q))
      }
      warmUpS = (System.nanoTime() - w0) / 1e9
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    val conf = Session.describe(spark)

    // ---- timed passes
    val tracer = new Tracer(spark)
    val walls, tracedWalls, resample, heapPeaks = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val passLatencies = mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val base = rng.shuffle(queries)
    val ledger = mutable.ArrayBuffer.empty[Map[String, Any]]
    Stats.settleHeap()
    val heap = new OldGenPeak
    var memoMb = 0.0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var passNo = 0
    def timeLeft = System.nanoTime() < deadline
    def pass(traced: Boolean): Double = {
      passNo += 1
      clearMemos(spark)
      if (traced) tracer.attach()
      val order = rotation(base, passNo - 1)
      var sampleSecs = 0.0
      val byQuery = mutable.ArrayBuffer.empty[Seq[Any]]
      val (_, runSpan) = tracer.span(s"pass$passNo", "run") {
        order.foreach { q =>
          attempted += 1
          val r = runQuery(spark, tracer, q)
          verify(q, r.out)
          if (q.contains("sample")) sampleSecs += r.seconds
          if (!traced) latencies += r.seconds
          byQuery += Seq(q, r.seconds)
          if (traced) ledger += r.ledger + ("pass" -> passNo)
        }
      }
      if (traced) tracer.detach()
      memoMb = math.max(memoMb, storedMb(spark))
      Stats.settleHeap()
      if (!traced) {
        heapPeaks += heap.sinceLast()
        resample += sampleSecs
        passLatencies += byQuery.toSeq
      }
      runSpan.seconds
    }
    if (a.trace) {
      // untraced and traced passes alternate, starting and ending untraced
      while (tracedWalls.isEmpty || walls.size <= tracedWalls.size || timeLeft) {
        if (walls.size <= tracedWalls.size) walls += pass(traced = false)
        else tracedWalls += pass(traced = true)
      }
    } else {
      val cycles = math.max(1L, math.round(a.seconds / (warmUpS * queries.size)))
      while (walls.size < cycles * queries.size) walls += pass(traced = false)
    }
    heap.stop()
    val hidden = Seq("ParityQueries gdelt TSV scratch", "EngineQueries bucketed tables",
      "DedupQueries count memos")
    QueryCaches.clear()
    ParityQueries.cleanupScratch()
    Session.stop(spark)

    // add-one smoothed, so that it is never 0
    val failShare = (failedQueries.size + 1.0) / (queries.size + 1.0)
    val info = Map[String, Any]("queries" -> queries, "setup_s" -> setupS,
      "passes_s" -> walls,
      "traced_passes_s" -> tracedWalls, "latency_samples" -> latencies.size,
      "pass_latencies_s" -> passLatencies,
      "failures" -> failedQueries.toMap, "conf" -> conf,
      "setup_pays_per_session_memos" -> hidden)
    val failedOps = failedQueries.size.toLong
    if (!a.trace) {
      Outcome(attempted, failedOps, Seq(
        ("setup_s", setupS, "s"),
        ("run_s", Stats.median(walls.toSeq), "s"),
        ("throughput", queries.size / Stats.median(walls.toSeq), "1/s"),
        ("query_p50_s", Stats.hdQuantile(latencies.toSeq, 0.5), "s"),
        ("query_p90_s", Stats.hdQuantile(latencies.toSeq, 0.9), "s"),
        ("resample_s", Stats.median(resample.toSeq), "s"),
        ("fail_share", failShare, "1"),
        ("peak_heap_mb", Stats.median(heapPeaks.toSeq), "MB")), info)
    } else {
      Outcome(attempted, failedOps, Seq(
        ("trace.overhead_s", Stats.overhead(walls.toSeq, tracedWalls.toSeq), "s"),
        ("caches.memo_mb", memoMb, "MB")),
        info + ("untraced_run_s" -> Stats.median(walls.toSeq)) +
          ("traced_run_s" -> Stats.median(tracedWalls.toSeq)),
        ledger.toSeq, tracer.spanRecords)
    }
  }

  private final case class QueryRun(seconds: Double, out: Either[String, Written],
      ledger: Map[String, Any])

  /** Builds and writes one query into the counting sink. */
  private def execute(spark: SparkSession, q: String): Either[String, Written] =
    Try {
      suite(q)(spark, a.fixture).write.mode("overwrite").format(CountingSink.format).save()
      CountingSink.take()
    } match {
      case Success(Some(w)) => Right(w)
      case Success(None) => Left("nothing committed")
      case Failure(e) => Left(brief(e))
    }

  /** Builds and executes one query into the counting sink. With tracing on,
    * the bus is drained afterwards (outside the query's time) so that its
    * executions, planning phases and task metrics are complete. */
  private def runQuery(spark: SparkSession, tracer: Tracer, q: String): QueryRun = {
    val buildsBefore = QueryCaches.sharedBuilds
    var out: Either[String, Written] = Left("not run")
    var construct, execute: Span = null
    val (_, op) = tracer.span(q, "op") {
      try {
        val (df, c) = tracer.span("construct", "construct")(suite(q)(spark, a.fixture))
        construct = c
        val (_, e) = tracer.span("execute", "execute") {
          df.write.mode("overwrite").format(CountingSink.format).save()
        }
        execute = e
        out = CountingSink.take().toRight("nothing committed")
      } catch { case t: Throwable => out = Left(brief(t)) }
    }
    val builds = QueryCaches.sharedBuilds.collect {
      case (k, v) if v > buildsBefore.getOrElse(k, 0.0) => k -> (v - buildsBefore.getOrElse(k, 0.0))
    }
    val ledger: Map[String, Any] = if (!tracer.tracing) Map.empty else {
      val execs = tracer.drainExecutions()
      val (writes, others) = execs.partition { case (_, qe, _) => Tracer.isSinkWrite(qe) }
      val plan = writes.lastOption.map { case (_, qe, _) => Tracer.phases(qe) }.getOrElse(Map.empty)
      val planS = plan.values.sum
      if (execute != null) tracer.derived(execute, "plan", execute.startNs, planS)
      def c(s: Span) = Option(s).map(_.snapshot).getOrElse(Map.empty[String, Double])
      Map("op" -> q, "wall_s" -> op.seconds, "rows" -> out.map(_.rows).toOption,
        "error" -> out.left.toOption,
        "construct_s" -> Option(construct).map(_.seconds).getOrElse(0.0),
        "execute_s" -> Option(execute).map(_.seconds - planS).getOrElse(0.0),
        "analysis_s" -> plan.getOrElse("analysis", 0.0),
        "optimization_s" -> plan.getOrElse("optimization", 0.0),
        "planning_s" -> plan.getOrElse("planning", 0.0),
        "construct_sql_execs" -> others.size,
        "memo_builds" -> builds.size, "memo_build_s" -> builds.values.sum,
        "construct_counters" -> c(construct), "execute_counters" -> c(execute))
    }
    QueryRun(op.seconds, out, ledger)
  }

  // -------------------------------------------------------------- goldens

  /** Runs every query of the suite twice, in reverse name order with memos
    * kept (which also warms the JVM), then alone from cleared memos in name
    * order, timing each, and records its row count and checksum. A value
    * that differs between the two runs is not stable and is recorded as
    * null (not checked). */
  private def writeGoldens(): Outcome = {
    val spark = Session.start(cpus, a.fixture, a.work)
    val names = suite.keys.toSeq.sorted
    val second = names.reverse.map(q => q -> execute(spark, q)).toMap
    val first = names.map { q =>
      clearMemos(spark)
      val t0 = System.nanoTime()
      val r = execute(spark, q)
      val cost = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[goldens] $q%-40s $cost%.2f s $r")
      q -> (r, cost)
    }.toMap
    QueryCaches.clear()
    ParityQueries.cleanupScratch()
    Session.stop(spark)
    val out = names.map { q =>
      val (r1, cost) = first(q)
      val r2 = second(q)
      val rows = for (x <- r1.toOption; y <- r2.toOption if x.rows == y.rows) yield x.rows
      val sum = for (x <- r1.toOption; y <- r2.toOption if x.checksum == y.checksum) yield x.checksum
      val err = r1.left.toOption.orElse(r2.left.toOption)
      q -> Map("rows" -> rows, "checksum" -> sum, "cost_s" -> cost, "error" -> err)
    }.toMap
    Json.write(a.goldens, Map("fixture" -> a.fixture.split('/').last, "queries" -> out))
    Outcome(names.size, out.count(_._2("rows") == None).toLong, Nil, Map.empty)
  }
}

object QueryWorkload {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Warm-up passes in the set-up: a fresh JVM keeps compiling hot code
    * for several passes (on sf0.001 each generated method runs only a few
    * times per pass), and passes timed earlier drift faster from one to the
    * next. */
  val WarmUps = 4

  /** The order of timed pass k: the seed's order of the panel rotated by k.
    * A query runs faster early in a pass, just after the memos are cleared
    * and the heap is settled, so a shuffle per pass would add its position
    * to its latency; over a cycle of one pass per query, every query runs
    * once at every position. */
  def rotation(base: Seq[String], k: Int): Seq[String] = {
    val r = k % base.size
    base.drop(r) ++ base.take(r)
  }

  /** The timed queries of each suite: with the suite sorted by golden cost
    * (alone, from cleared memos), the query at the middle of each of k equal
    * slices — k = 8 for the tabular suite, 6 for the costlier corpus suite,
    * so that a run fits the benchmark's time budget. A fixed panel keeps the
    * run-to-run spread to measurement noise; a different panel per seed
    * would add the spread between panels. */
  val Panels: Map[String, Seq[String]] = Map(
    "queries_tabular" -> Seq(
      "q_eng_cochran_armitage", "q_eng_constraints", "q_eng_cuped",
      "q_eng_hll_by_type", "q_eng_seasonal", "q_eng_sketch_quantiles",
      "q_sample_daily", "q_sample_oversample"),
    "queries_corpus" -> Seq(
      "q_dedup_ngram_jaccard", "q_mm_audio_silence", "q_mm_blur_energy",
      "q_sim_cell_sample", "q_text_dsir_select", "q_text_ppl_by_source"))

  def brief(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("").take(200)}"

  /** Releases every memo and waits until their blocks are gone, since
    * `QueryCaches.clear` unpersists without blocking. */
  def clearMemos(spark: SparkSession): Unit = {
    QueryCaches.clear()
    val deadline = System.nanoTime() + 30000000000L
    while (PerfbenchBus.releasedBlocks(spark.sparkContext) > 0 && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Memory plus disk held by persisted RDDs (memos and local checkpoints). */
  def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def loadGoldens(path: String): Map[String, Golden] = {
    implicit val formats: Formats = DefaultFormats
    val j = Json.read(path) \ "queries"
    j match {
      case JObject(fields) => fields.map { case (q, v) =>
        q -> Golden((v \ "rows").extractOpt[Long], (v \ "checksum").extractOpt[String])
      }.toMap
      case _ => Map.empty
    }
  }
}
