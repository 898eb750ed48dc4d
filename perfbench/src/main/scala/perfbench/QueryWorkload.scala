package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** The query workload (`eeg_medallion`): registered graft queries run
  * one at a time, each built through `SparkEntry.queries` and
  * executed by a `noop` write, in an order shuffled by the seed every pass.
  *
  * One warm-up pass precedes the timed passes and writes every query's
  * result to parquet for the oracle check. Timed passes follow
  * ([[Main.timedPasses]]).
  */
object QueryWorkload {
  /** `eeg_medallion`, the paper's medallion pipeline: ingest, silver,
    * gold, feature matrix, signal filters and the ML fit. */
  val EegMedallion: Seq[String] = Seq(
    "csv_ingest", "bronze_ingest",
    "silver_zscore", "gold_trial_stats", "gold_epoch_features", "hjorth_features", "qc_report",
    "feature_wide", "feature_unpivot",
    "signal_fir_bandpass", "signal_iir_filtfilt", "channel_correlation",
    "ml_train_predict", "ml_metrics")

  /** Deterministic per-(seed, pass) order. */
  def shuffled(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def run(spark: SparkSession, a: Main.Args, t0: Long, names: Seq[String]): Map[String, Any] = {
    val sc = spark.sparkContext
    // csv_ingest reads its raw drop from a fixed directory: point it at the
    // generated drop (run.py rewrites the old path in the oracle SQL too)
    val drop = s"${a.data}/eeg_csv"
    val relocated = Map(
      setStatic(graft.operators.CsvIngest.getClass.getDeclaredField("FixtureDir"), drop) -> drop)

    def build(name: String): DataFrame = SparkEntry.queries.get(name) match {
      case Some(q) => q(spark, a.data)
      case None => throw new NoSuchElementException(s"unknown query name '$name'")
    }

    def cleanup(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }

    /** One op: build (tables + DataFrame construction + eager actions),
      * then execute with a noop write. */
    def op(name: String, pass: Int, trace: Option[Trace]): Map[String, Any] = {
      trace.foreach(_.take())
      sc.setLocalProperty(Trace.PhaseKey, "build")
      val t = System.nanoTime()
      var t1 = t
      var persisted = 0
      val res = try {
        val df = build(name)
        t1 = System.nanoTime()
        persisted = sc.getPersistentRDDs.size
        sc.setLocalProperty(Trace.PhaseKey, "exec")
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(Main.message(e)) }
      val t2 = System.nanoTime()
      sc.setLocalProperty(Trace.PhaseKey, null)
      val base = Map[String, Any](
        "name" -> name, "pass" -> pass, "ok" -> res.isEmpty, "err" -> res,
        "wall_ms" -> (t2 - t) / 1e6, "build_ms" -> (t1 - t) / 1e6,
        "exec_ms" -> (if (res.isEmpty) (t2 - t1) / 1e6 else 0.0),
        "persisted" -> persisted)
      cleanup()
      trace.fold(base) { tr =>
        val (counters, qes, tasks) = tr.take()
        base ++ Map("counters" -> counters, "qes" -> qes.map(Trace.qeJson),
          "tasks" -> tasks.map { case (s, e) => Seq(s, e) })
      }
    }

    // warm-up pass (JIT, codegen and file-system caches), which also
    // writes each query's result to parquet for the oracle check
    val checks = shuffled(names.distinct, a.seed, -1).map { n =>
      val t = System.nanoTime()
      val err = try {
        build(n).coalesce(1).write.mode("overwrite").parquet(s"${a.work}/out/$n")
        None
      } catch { case e: Throwable => Some(Main.message(e)) }
      cleanup()
      Map("name" -> n, "ok" -> err.isEmpty, "err" -> err, "wall_ms" -> (System.nanoTime() - t) / 1e6)
    }

    val resolveMs: Map[String, Double] =
      if (a.trace) resolveProbe(spark, a.data) else Map.empty
    val setupS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(spark)
    val (ops, passes) = Main.timedPasses(a, trace) { (p, traced) =>
      shuffled(names, a.seed, p).map(n => op(n, p, Option.when(traced)(trace)))
    }

    Map("setup_jvm_s" -> setupS, "ops" -> ops, "passes" -> passes, "checks" -> checks,
      "oracle" -> names.distinct.map(n => n -> SparkEntry.oracleSql.get(n)).toMap,
      "relocated" -> relocated, "resolve_ms" -> resolveMs)
  }

  /** Replaces the value of a static final field (a Scala object `val`)
    * before any code has read it; returns the old value. */
  private def setStatic(f: java.lang.reflect.Field, value: AnyRef): String = {
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    val base = u.staticFieldBase(f)
    val off = u.staticFieldOffset(f)
    val old = u.getObject(base, off).asInstanceOf[String]
    u.putObject(base, off, value)
    old
  }

  /** Warm time of each public `Tables.<t>` loader: median of five calls. */
  def resolveProbe(spark: SparkSession, dir: String): Map[String, Double] = {
    val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    loaders.collect { case (t, f) if new java.io.File(s"$dir/$t.parquet").exists =>
      f(spark, dir)
      val ts = Seq.fill(5) {
        val s = System.nanoTime(); f(spark, dir); (System.nanoTime() - s) / 1e6
      }.sorted
      t -> ts(2)
    }
  }
}
