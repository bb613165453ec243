package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Command line of the benchmark JVM (see run.py, which builds it). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, fixture: String, goldens: String,
    etlInputs: String, etlGolden: String, out: String, writeGoldens: Boolean)

/** What one benchmark invocation reports: the end-to-end metrics of the
  * untraced passes, or the per-layer metrics of the traced ones, plus the
  * per-operation ledger and spans the layer report is computed from. */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], info: Map[String, Any],
    ledger: Seq[Map[String, Any]] = Nil, spans: Seq[Map[String, Any]] = Nil)

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("fixture"), kv("goldens"),
      kv.getOrElse("etl-inputs", ""), kv.getOrElse("etl-golden", ""),
      kv("out"), kv.get("write-goldens").contains("1"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val outcome = a.workload match {
      case "gdelt_etl" => new EtlWorkload(a, cpus).run()
      case "queries_tabular" | "queries_corpus" => new QueryWorkload(a, cpus).run()
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    Json.write(a.out, Map(
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "metrics" -> outcome.metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap,
      "info" -> outcome.info, "ledger" -> outcome.ledger,
      "spans" -> outcome.spans))
  }
}

/** The session every workload runs on: `graft.Bench`'s conf keys, with the
  * warehouse and Spark's scratch space inside the benchmark's work dir and
  * an explicit UTC time zone. */
object Session {
  def start(cpus: Int, sizingDir: String, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val pid = ProcessHandle.current().pid()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "524288")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse_$pid")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.util.PartitionSizing.initialPartitions(sizingDir, cpus).toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val shownKeys = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.join.preferSortMergeJoin", "spark.sql.session.timeZone",
    "spark.sql.warehouse.dir", "spark.local.dir")

  /** Effective conf of the keys above plus the JVM's heap limit. */
  def describe(s: SparkSession): Map[String, Any] =
    shownKeys.map(k => k -> s.conf.getOption(k).getOrElse("<unset>")).toMap ++
      // the CLI's session builder sets spark.master on the shared session's
      // conf; the context's own master is the one in effect
      Map("spark.master" -> s.sparkContext.master) ++
      Map("heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "<unset>"))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis estimate of the q-quantile: the mean of all order
    * statistics weighted by a Beta(q(n+1), (1-q)(n+1)) distribution.
    * Latencies cluster by operation, and a plain quantile then lands on one
    * cluster's extreme sample; this estimate moves smoothly with all of
    * them. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    val beta = new BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
    s.indices.map { i =>
      s(i) * (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n))
    }.sum
  }

  /** Tracing overhead from alternating passes u0 t0 u1 t1 u2 …: the median
    * of each traced pass minus the mean of the untraced passes around it,
    * which cancels the steady speed-up of a JVM still warming up. */
  def overhead(untraced: Seq[Double], traced: Seq[Double]): Double =
    median(traced.indices.map(i => traced(i) - (untraced(i) + untraced(i + 1)) / 2))

  /** Full collection between passes, outside their timing, so that every
    * pass starts from the same heap. Twice, so that objects Spark's
    * ContextCleaner releases after the first collection are gone too. */
  def settleHeap(): Unit = {
    System.gc()
    Thread.sleep(50)
    System.gc()
  }
}

/** Old-generation occupancy after every garbage collection while
  * registered, from the collectors' own notifications (each pool's usage
  * after the collection), and its highest value per pass. */
final class OldGenPeak extends NotificationListener {
  private val uptime = ManagementFactory.getRuntimeMXBean
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val after = mutable.ArrayBuffer.empty[(Long, Long)] // (GC end ms, bytes)
  private var cut = uptime.getUptime
  emitters.foreach(_.addNotificationListener(this, null, null))

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(this))

  /** Highest occupancy, in MB, after the collections that ended since the
    * previous call (or the construction). Notifications arrive on their own
    * thread, so they are given a moment to be delivered. */
  def sinceLast(): Double = {
    val now = uptime.getUptime
    Thread.sleep(100)
    synchronized {
      val xs = after.collect { case (t, b) if t > cut && t <= now => b }
      cut = now
      require(xs.nonEmpty, "no garbage collection in a timed pass")
      xs.max / 1048576.0
    }
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val old = gc.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if pool.toLowerCase.contains("old") => u.getUsed
      }.sum
      synchronized { after += gc.getEndTime -> old }
    }
}

object Json {
  def value(v: Any): JValue = v match {
    case null | None => JNull
    case Some(x) => value(x)
    case j: JValue => j
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case f: Float => value(f.toDouble)
    case m: Map[_, _] => JObject(m.toList.map { case (k, x) => k.toString -> value(x) }
      .sortBy(_._1))
    case it: Iterable[_] => JArray(it.map(value).toList)
    case arr: Array[_] => JArray(arr.map(value).toList)
    case other => JString(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path),
      JsonMethods.compact(JsonMethods.render(value(v))).getBytes(StandardCharsets.UTF_8))

  def read(path: String): JValue =
    JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))
}
