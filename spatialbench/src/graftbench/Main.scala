package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one workload run reports: operations attempted and failed (a
  * failed correctness check counts as a failed operation), end-to-end
  * metrics from the untraced part of the run, and per-layer metrics from
  * the traced part. */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double], layer: Map[String, Double])

/** Run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: String, val cores: Int, val sessionS: Double) {
  val in = new Inputs(spark, seed, 8)
  private var attempted = 0L
  private var failed = 0L

  /** Count one operation; a thrown exception or a false check is a failure. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A correctness check: false counts as one failed operation. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  private def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[spatialbench] FAILED: $msg")
  }

  private val started = Util.now()
  /** Progress line on stderr, with seconds since the run started. */
  def note(msg: String): Unit = System.err.println(f"[spatialbench] ${Util.secs(started)}%7.2fs $msg")

  def outcome(e2e: Map[String, Double], layer: Map[String, Double]): Outcome =
    Outcome(attempted, failed, e2e, layer)

  /** Plan guard over a DataFrame's executed plan (after its action). */
  def guard(what: String, df: DataFrame, required: String*): Unit = {
    val miss = Plans.missing(df, required)
    check(s"plan guard $what: missing ${miss.mkString(",")}", miss.isEmpty)
  }
}

object Util {
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[A](body: => A): (A, Double) = { val t = now(); val a = body; (a, secs(t)) }

  /** Quantile by linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    // no samples only when every operation failed, and such a run is not correct
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Order-independent digest consuming every column: row count and the
    * sum of a 64-bit row hash shifted right so the sum cannot overflow
    * below 2^23 rows. Timed actions use it so no output column can be
    * pruned away. */
  def digestCols(df: DataFrame): Seq[Column] =
    Seq(count(lit(1)).as("n"),
      coalesce(sum(shiftright(xxhash64(df.columns.map(c => df.col(s"`$c`")): _*), 24)), lit(0L)).as("h"))

  def digest(df: DataFrame): (DataFrame, (Long, Long)) = {
    val d = df.agg(digestCols(df).head, digestCols(df).tail: _*)
    val r = d.collect()(0)
    (d, (r.getLong(0), r.getLong(1)))
  }

  /** Runs a set-up `n` times and keeps the last result. Each earlier
    * result is dropped before the next set-up starts: Spark's cache
    * matches equal plans, so a set-up made while an equal one is still
    * cached would reuse it instead of generating anew. */
  def setUps[G](n: Int)(make: => G)(drop: G => Unit): (G, Seq[Double]) = {
    var last: Option[G] = None
    val times = (0 until n).map { _ =>
      last.foreach(drop)
      val (g, t) = timed(make)
      last = Some(g)
      t
    }
    (last.get, times)
  }

  /** Cache a frame and materialize every column of it. */
  def cached(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    digest(c)
    c
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  /** Bytes of every file under a directory. */
  def duBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Parquet data files under a directory. */
  def parquetFiles(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }
}

/** Machine state at the start and end of a run: load averages, and at
  * the start a fixed single-thread calibration loop (2^27 mixing steps,
  * best of 2), the same loop `graft.MachineState` times, so runs on a
  * contended host can be told apart from regressions. */
object Machine {
  def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).toSeq.map(_.toDouble) finally src.close()
    } catch { case _: Throwable => Seq(Double.NaN, Double.NaN, Double.NaN) }

  def calibrateMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < (1 << 27)) {
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
        h ^= h >>> 29; h += i
        i += 1
      }
      if (h == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 2).map(_ => once()).min
  }

  def json(calibrate: Boolean): String =
    s"""{"loadavg":[${loadavg().mkString(",")}],""" +
      (if (calibrate) s""""calib_ms":${calibrateMs()},""" else "") +
      s""""host_cores":${Runtime.getRuntime.availableProcessors()}}"""
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val jvmUpS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val result = arg(args, "result")
    val cores = arg(args, "cores").toInt
    require(Set("join_tile", "query_mix")(workload), s"unknown workload $workload")

    val machineStart = Machine.json(calibrate = true)
    val t1 = Util.now()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"spatialbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.StFunctions.register(spark)
    // session start: JVM boot plus building the session, without the
    // calibration loop that stamps the machine state
    val ctx = new Ctx(spark, seed, seconds, trace, work, cores, jvmUpS + Util.secs(t1))
    if (trace) Trace.install(spark)
    ctx.note(f"session ready: JVM up ${jvmUpS}%.2f s, session ${ctx.sessionS}%.2f s")

    val out = workload match {
      case "join_tile" => JoinTile.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
    }
    val rss = Util.peakRssMb()
    if (trace) Trace.write(s"$work/spans.jsonl")
    spark.stop()
    val machineEnd = Machine.json(calibrate = false)

    val metrics = (if (trace) out.layer else out.e2e + ("peak_rss_mb" -> rss))
      .toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val json =
      s"""{"attempted":${out.attempted},"failed":${out.failed},"metrics":{$metrics},""" +
        s""""machine":{"start":$machineStart,"end":$machineEnd}}"""
    val w = new java.io.PrintWriter(result, "UTF-8")
    try w.println(json) finally w.close()
    System.exit(0)
  }
}
