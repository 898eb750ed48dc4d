package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.sources.CommitLog

/** `commitlog_rw`: one writer and one reader on a fresh commit-log table,
  * driven by a script drawn from the seed.
  *
  * A pass is one checkpoint cycle: the ops of [[Cycle]], half writes and
  * half reads, then a checkpoint. Writes are partitioned, idempotent
  * appends of small EEG-shaped batches (some of them redeliveries of the
  * previous batch, which must be skipped), `mergeInto` corrections and
  * `deleteWhereDv` trial deletions. Reads are the latest snapshot, a
  * `readWhere` on one synset, a time-travel read at a drawn recent
  * version, and an incremental read from the reader's cursor. Every read,
  * and the final snapshot, is checked row for row against an in-memory
  * model of the table.
  *
  * The seed draws the data (synset names, values, corrected rows, deleted
  * trials, versions and synsets read); the op order is fixed, and every
  * draw has about the same cost, so that seeds change the table's
  * contents but not the latency profile of a pass.
  */
object LakeWorkload {
  /** Ops of one cycle in order: five commits and a redelivery against six
    * reads, each write followed by a read; a checkpoint closes the cycle. */
  val Cycle: Seq[String] = Seq(
    "append", "read_latest", "redeliver", "read_where", "append", "read_asof",
    "merge", "read_latest", "append", "read_incremental", "delete_dv", "read_where")
  /** Versions back from the head that a time-travel read may pick. */
  val AsOfWindow = 4
  val AppId = "perfbench-writer"
  val Channels: Seq[String] = Seq("AF3", "AF4", "T7", "T8", "Pz")
  val SamplesPerTrial = 24
  val TrialsPerBatch = 2

  val schema: StructType = StructType(Seq(
    StructField("row_id", LongType), StructField("synset", StringType),
    StructField("trial_id", LongType), StructField("channel", StringType),
    StructField("sample_idx", IntegerType), StructField("value", DoubleType)))

  final case class R(rowId: Long, synset: String, trial: Long, channel: String,
                     idx: Int, value: Double) {
    def row: Row = Row(rowId, synset, trial, channel, idx, value)
    /** Raw encoded size: fixed-width numbers plus string bytes. */
    def bytes: Long = 8 + synset.length + 8 + channel.length + 4 + 8
  }

  def fromRow(r: Row): R =
    R(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getInt(4), r.getDouble(5))

  /** The table as the writer believes it to be: one snapshot per version,
    * the rows each append added, and the last version that was not a
    * pure append (incremental reads cannot span it). */
  final class Model {
    val versions = mutable.ArrayBuffer.empty[Map[Long, R]]
    val appended = mutable.Map.empty[Long, Seq[R]]
    var lastRewrite = -1L
    def head: Long = versions.size - 1L
    def live: Map[Long, R] = versions.lastOption.getOrElse(Map.empty)
    def commit(next: Map[Long, R]): Unit = versions += next
  }

  /** Seeded generator of batches and drawn op arguments for one table.
    * Trials go to the synsets in turn, so every partition grows alike. */
  final class Script(seed: Long) {
    private val rng = new scala.util.Random(seed)
    val synsets: Seq[String] = Seq.tabulate(4)(i => f"n${10000000 + rng.nextInt(900000) + i * 1000000}%08d")
    private var nextRow = 0L
    private var nextTrial = 0L
    var txn = 0L
    var lastBatch: Seq[R] = Nil

    def batch(): Seq[R] = {
      val rows = for {
        _ <- 0 until TrialsPerBatch
        trial = { nextTrial += 1; nextTrial }
        synset = synsets((trial % synsets.size).toInt)
        ch <- Channels
        i <- 0 until SamplesPerTrial
      } yield {
        nextRow += 1
        R(nextRow, synset, trial, ch, i, math.round(rng.nextGaussian() * 5000) / 100.0)
      }
      lastBatch = rows
      txn += 1
      rows
    }

    /** Corrections: rescaled values for some of the newest batch's worth
      * of live rows, plus a few new rows. */
    def corrections(live: Map[Long, R]): Seq[R] = {
      val ids = live.keys.toIndexedSeq.sorted.takeRight(TrialsPerBatch * Channels.size * SamplesPerTrial)
      val fixed = Seq.fill(math.min(30, ids.size))(ids(rng.nextInt(ids.size))).distinct
        .map(id => live(id).copy(value = math.round(live(id).value * 75) / 100.0))
      val trial = { nextTrial += 1; nextTrial }
      val synset = synsets((trial % synsets.size).toInt)
      fixed ++ (0 until 10).map { i => nextRow += 1; R(nextRow, synset, trial, "AF3", i, i * 1.5) }
    }

    def trialToDelete(live: Map[Long, R]): Long = {
      val trials = live.values.map(_.trial).toIndexedSeq.distinct.sorted
      trials(rng.nextInt(trials.size))
    }

    def synset(): String = synsets(rng.nextInt(synsets.size))
    /** A version among the [[AsOfWindow]] before `head` (0 when there are none). */
    def version(head: Long): Long = {
      val lo = math.max(0L, head - AsOfWindow)
      lo + rng.nextInt(math.max(1, (head - lo).toInt))
    }
  }

  def run(spark: SparkSession, a: Main.Args, t0: Long): Map[String, Any] = {
    val sc = spark.sparkContext
    def df(rows: Seq[R]): DataFrame = spark.createDataFrame(rows.map(_.row).asJava, schema)

    final class Table(val dir: String, seed: Long) {
      val script = new Script(seed)
      val model = new Model
      var cursor = -1L

      private def expect(cond: Boolean, what: => String): Unit =
        if (!cond) throw new IllegalStateException(what)

      private def append(rows: Seq[R], txn: Long): Option[Long] =
        CommitLog.appendIdempotent(spark, dir, df(rows), AppId, txn, partitionBy = Seq("synset"))

      /** Version 0 is one batch; a second batch and a deletion-vector
        * delete follow, so that every timed read already merges deletion
        * vectors, as reads after the first cycle's delete do. */
      def bootstrap(): Unit = {
        val rows = script.batch()
        expect(append(rows, script.txn).contains(0L), "bootstrap append did not land at version 0")
        model.appended(0L) = rows
        model.commit(rows.map(r => r.rowId -> r).toMap)
        write("append")
        write("delete_dv")
      }

      /** One write, checked against the model. */
      def write(kind: String): Unit = kind match {
        case "append" =>
          val rows = script.batch()
          val v = append(rows, script.txn)
          expect(v.contains(model.head + 1), s"append landed at $v, expected ${model.head + 1}")
          model.appended(model.head + 1) = rows
          model.commit(model.live ++ rows.map(r => r.rowId -> r))
        case "redeliver" =>
          val v = append(script.lastBatch, script.txn)
          expect(v.isEmpty, s"redelivered batch ${script.txn} was committed again at $v")
        case "merge" =>
          val src = script.corrections(model.live)
          val v = CommitLog.mergeInto(spark, dir, df(src), "row_id")
          expect(v == Right(model.head + 1), s"merge returned $v, expected ${model.head + 1}")
          model.commit(model.live ++ src.map(r => r.rowId -> r))
          model.lastRewrite = model.head
        case "delete_dv" =>
          val t = script.trialToDelete(model.live)
          val v = CommitLog.deleteWhereDv(spark, dir, col("trial_id") === t)
          expect(v == Right(model.head + 1), s"delete returned $v, expected ${model.head + 1}")
          model.commit(model.live.filter(_._2.trial != t))
          model.lastRewrite = model.head
        case "checkpoint" =>
          val v = CommitLog.checkpoint(dir)
          expect(v == model.head, s"checkpoint at $v, expected ${model.head}")
      }

      /** One read: the frame (built by the commit log) and the rows the
        * model expects it to hold. */
      def read(kind: String): (() => DataFrame, Seq[R], Map[String, Any]) = kind match {
        case "read_latest" =>
          (() => CommitLog.read(spark, dir), model.live.values.toSeq, Map("asof" -> model.head))
        case "read_where" =>
          val s = script.synset()
          (() => CommitLog.readWhere(spark, dir, col("synset") === s),
            model.live.values.filter(_.synset == s).toSeq, Map("asof" -> model.head, "synset" -> s))
        case "read_asof" =>
          val v = script.version(model.head)
          (() => CommitLog.read(spark, dir, Some(v)), model.versions(v.toInt).values.toSeq,
            Map("asof" -> v))
        case "read_incremental" =>
          val from = math.max(cursor, model.lastRewrite)
          val rows = ((from + 1) to model.head).flatMap(v => model.appended.getOrElse(v, Nil))
          (() => {
            val (frame, next) = CommitLog.readIncremental(spark, dir, from)
            expect(next == model.head, s"incremental cursor moved to $next, expected ${model.head}")
            cursor = next
            frame
          }, rows, Map("asof" -> model.head, "from" -> from))
      }

      /** Disk footprint: data files and the log (commits, checkpoints). */
      def bytes(): (Long, Long) = {
        val root = Paths.get(dir)
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).foldLeft((0L, 0L)) {
          case ((d, l), p) =>
            val n = Files.size(p)
            if (root.relativize(p).toString.startsWith("_graft_log")) (d, l + n) else (d + n, l)
        } finally s.close()
      }

      /** Commit files a snapshot read at `v` replays: those after the
        * newest checkpoint at or below `v`. */
      def replayed(v: Long): Long = {
        val log = Paths.get(dir, "_graft_log")
        val names = { val s = Files.list(log); try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close() }
        val cp = names.filter(_.endsWith(".checkpoint.json"))
          .map(_.stripSuffix(".checkpoint.json").toLong).filter(_ <= v).maxOption.getOrElse(-1L)
        v - cp
      }
    }

    def sameRows(got: Seq[R], want: Seq[R]): Boolean =
      got.sortBy(_.rowId) == want.sortBy(_.rowId)

    val trace = new Trace(spark)

    /** One op of kind `k`; returns its record. */
    def op(t: Table, k: String, pass: Int, traced: Boolean): Map[String, Any] = {
      if (traced) trace.take()
      val st = System.nanoTime()
      var rec = Map[String, Any]("name" -> k, "pass" -> pass)
      try {
        if (!k.startsWith("read")) {
          sc.setLocalProperty(Trace.PhaseKey, "commit")
          t.write(k)
          val w = (System.nanoTime() - st) / 1e6
          rec ++= Map("ok" -> true, "wall_ms" -> w, "build_ms" -> 0.0, "exec_ms" -> 0.0)
        } else {
          val (frame, want, info) = t.read(k)
          sc.setLocalProperty(Trace.PhaseKey, "build")
          val f = frame()
          val t1 = System.nanoTime()
          sc.setLocalProperty(Trace.PhaseKey, "exec")
          val got = f.collect().toSeq
          val t2 = System.nanoTime()
          sc.setLocalProperty(Trace.PhaseKey, null)
          val ok = sameRows(got.map(fromRow), want)
          rec ++= Map("ok" -> ok, "err" -> (if (ok) None else Some(s"$k: ${got.size} rows, model has ${want.size}")),
            "wall_ms" -> (t2 - st) / 1e6, "build_ms" -> (t1 - st) / 1e6, "exec_ms" -> (t2 - t1) / 1e6,
            "rows" -> got.size) ++ info
        }
      } catch {
        case e: Throwable =>
          rec ++= Map("ok" -> false, "err" -> Some(Main.message(e)),
            "wall_ms" -> (System.nanoTime() - st) / 1e6, "build_ms" -> 0.0, "exec_ms" -> 0.0)
      }
      sc.setLocalProperty(Trace.PhaseKey, null)
      if (traced) {
        val (counters, qes, tasks) = trace.take()
        rec ++= Map("counters" -> counters, "qes" -> qes.map(Trace.qeJson),
          "tasks" -> tasks.map { case (s, e) => Seq(s, e) })
      }
      // read-side probes of the commit log, outside the op's time and
      // after its Spark counters were taken
      if (traced && k.startsWith("read") && rec("ok") == true) {
        val v = rec("asof").asInstanceOf[Long]
        val p0 = System.nanoTime(); CommitLog.latestVersion(t.dir)
        val p1 = System.nanoTime(); val live = CommitLog.liveFiles(t.dir, v)
        val p2 = System.nanoTime()
        rec ++= Map("latest_ms" -> (p1 - p0) / 1e6, "snapshot_ms" -> (p2 - p1) / 1e6,
          "files_live" -> live.size, "log_files_replayed" -> t.replayed(v))
        rec.get("synset").foreach { s =>
          rec += "files_scanned" -> CommitLog.prunedLiveFiles(spark, t.dir, col("synset") === s, Some(v)).size
        }
      }
      rec
    }

    /** One pass of the script: a cycle's ops, then a checkpoint. */
    def cycle(t: Table, pass: Int, traced: Boolean): Seq[Map[String, Any]] =
      (Cycle :+ "checkpoint").map(op(t, _, pass, traced))

    // warm-up: each kind of op once, on a throwaway table
    val warm = new Table(s"${a.work}/lake_warmup", a.seed ^ 0x5eed)
    warm.bootstrap()
    Seq("append", "redeliver", "read_latest", "read_where", "merge", "read_asof",
      "append", "read_incremental", "delete_dv", "checkpoint").foreach(op(warm, _, -1, traced = false))

    val table = new Table(s"${a.work}/lake", a.seed)
    table.bootstrap()
    val setupS = (System.nanoTime() - t0) / 1e9

    val (ops, passes) = Main.timedPasses(a, trace)(cycle(table, _, _))

    // final snapshot, row for row (untimed)
    val finalErr = try {
      val got = CommitLog.read(spark, table.dir).collect().toSeq.map(fromRow)
      if (sameRows(got, table.model.live.values.toSeq)) None
      else Some(s"final snapshot: ${got.size} rows, model has ${table.model.live.size}")
    } catch { case e: Throwable => Some(Main.message(e)) }
    val (dataB, logB) = table.bytes()
    Map("setup_jvm_s" -> setupS, "ops" -> ops, "passes" -> passes,
      "checks" -> Seq(Map("name" -> "final_snapshot", "ok" -> finalErr.isEmpty, "err" -> finalErr)),
      "lake" -> Map("data_bytes" -> dataB, "log_bytes" -> logB,
        "user_bytes" -> table.model.live.values.map(_.bytes).sum,
        "versions" -> (table.model.head + 1), "live_rows" -> table.model.live.size))
  }
}
