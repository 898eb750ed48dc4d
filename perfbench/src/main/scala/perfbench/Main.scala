package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (perfbench/run.py builds this,
  * generates the inputs, checks outputs and prints the metrics).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --result FILE [--queries a,b,...]
  *
  * Runs one workload in this JVM on `local[nproc]` with shuffle partitions
  * equal to nproc, and writes every raw measurement to FILE as JSON.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, result: String,
                        queries: Option[Seq[String]])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("result"),
      m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)))
  }

  /** Two passes per run at least: one untraced and one traced in a
    * traced run, and a median over more than one pass in either. */
  val MinPasses = 2

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // same planner setting as graft.Bench and graft.Verify
      .config("spark.sql.execution.replaceHashWithSortAgg", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val body: Map[String, Any] = try a.workload match {
      case "eeg_medallion" =>
        QueryWorkload.run(spark, a, t0, a.queries.getOrElse(QueryWorkload.EegMedallion))
      case "commitlog_rw" => LakeWorkload.run(spark, a, t0)
      case w => sys.error(s"unknown workload '$w'")
    } catch {
      case e: Throwable =>
        spark.stop()
        throw e
    }
    val calib = calibrate(spark, cores)
    val heapMb = retainedHeapMb()
    val out = body ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "session_s" -> sessionS, "cores" -> cores, "heap_retained_mb" -> heapMb,
      "box" -> Map(
        "nproc" -> cores, "java" -> System.getProperty("java.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "calib_s" -> calib))
    Files.writeString(Paths.get(a.result), Json(out))
    spark.stop()
  }

  /** Timed passes until `--seconds` have elapsed, and at least
    * [[MinPasses]]; when traced, odd passes run with `trace` installed.
    * `pass(p, traced)` runs pass `p` and returns its op records; the
    * result is (op records, pass records). */
  def timedPasses(a: Args, trace: Trace)(pass: (Int, Boolean) => Seq[Map[String, Any]])
      : (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val ops = Seq.newBuilder[Map[String, Any]]
    val passes = Seq.newBuilder[Map[String, Any]]
    val start = System.nanoTime()
    var p = 0
    while (p < MinPasses || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val traced = a.trace && p % 2 == 1
      if (traced) trace.install()
      val t = System.nanoTime()
      val startMs = System.currentTimeMillis()
      ops ++= pass(p, traced)
      passes += Map("pass" -> p, "traced" -> traced, "wall_ms" -> (System.nanoTime() - t) / 1e6,
        "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis())
      if (traced) trace.uninstall()
      p += 1
    }
    (ops.result(), passes.result())
  }

  /** Box-state probe, never gated: a fixed synthetic hash-shuffle, agg and
    * sort with no graft code; the faster of two runs after a warm-up. */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    def once(): Double = {
      val t = System.nanoTime()
      spark.range(0L, 1000000L, 1L, cores)
        .selectExpr("id % 100000 AS k", "pmod(xxhash64(id), 1000000) AS h")
        .groupBy("k").sum("h").orderBy("sum(h)")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    once()
    math.min(once(), once())
  }

  /** Driver heap in use after a full collection, in MiB: the least of
    * three readings a moment apart, so that objects Spark's cleaner thread
    * is still releasing are not counted as retained. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    Seq.fill(3) {
      Thread.sleep(200)
      System.gc()
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)
}
