package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Cdc, VacuumPlan}
import graft.sources.CommitLog
import graft.streaming.StreamingJobs

/** The commit-log table format's protocol contract: atomic versioned
  * commits, snapshot isolation, optimistic concurrency (one winner per
  * version, loser retries), copy-on-write MERGE/DELETE replay whose
  * read-at-version answers equal [[Cdc.snapshotAt]] on the same change
  * log, retention-bounded vacuum, and the derived change feed driving
  * [[VacuumPlan]] to the synthetic-log answer. */
class CommitLogSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_commitlog").toString

  test("append + read round-trip with snapshot isolation and time travel") {
    val t = tmpTable()
    assert(CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s")) == 0L)
    val pinned = CommitLog.read(spark, t) // file list resolved NOW, at v0
    assert(CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s")) == 1L)
    assert(pinned.count() == 2, "pinned reader leaked a later commit")
    assert(CommitLog.read(spark, t).count() == 3)
    assert(CommitLog.read(spark, t, asOf = Some(0L)).count() == 2)
  }

  test("two concurrent writers race one version: exactly one wins, loser retries and lands") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((0L, "base")).toDF("id", "s"))
    val addsA = CommitLog.stage(t, Seq((1L, "A")).toDF("id", "s"))
    val addsB = CommitLog.stage(t, Seq((2L, "B")).toDF("id", "s"))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def racer(adds: Seq[String]) = pool.submit(new Callable[Boolean] {
      def call(): Boolean = { start.await(); CommitLog.tryCommit(t, 1L, adds.map(CommitLog.Add(_))) }
    })
    val (fa, fb) = (racer(addsA), racer(addsB))
    start.countDown()
    val (wa, wb) = (fa.get(), fb.get())
    pool.shutdown()
    assert(wa ^ wb, s"exactly one writer may create version 1: A=$wa B=$wb")
    // the loser's staged files are still invisible; it retries at the next
    // version (appends commute) and both writers' rows land
    val loser = if (wa) addsB else addsA
    assert(CommitLog.read(spark, t).count() == 2)
    assert(CommitLog.tryCommit(t, 2L, loser.map(CommitLog.Add(_))))
    assert(CommitLog.read(spark, t).select("id").as[Long].collect().toSet ==
      Set(0L, 1L, 2L))
  }

  test("serializable rewrite: a concurrent commit forces Conflict, never a silent rebase") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "x")).toDF("id", "s")) // v0
    val readFiles = CommitLog.liveFiles(t, 0L)
    val adds = CommitLog.stage(t, Seq((1L, "x2")).toDF("id", "s"))
    CommitLog.append(spark, t, Seq((9L, "y")).toDF("id", "s")) // intruder lands v1
    val lost = CommitLog.replaceFiles(t, 0L, readFiles, adds)
    assert(lost.isLeft, "rewrite against a stale snapshot must conflict")
    // optimistic retry: re-read (the rewrite's inputs are unaffected by the
    // intruder's append of a different key), commit against the new head
    assert(CommitLog.replaceFiles(t, 1L, readFiles, adds) == Right(2L))
    assert(CommitLog.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "x2"), (9L, "y")))
  }

  /** Replays [[Cdc.changeLog]] as REAL copy-on-write commits: commit 0 =
    * v1 base inserts over hash-bucketed files, commit 1 = the v2 MERGE
    * (rewrite only files containing updated keys), commit 2 = the v3
    * DELETE (rewrite only files containing deleted keys). */
  private def replay(): (String, DataFrame) = {
    val docs = Tables.documents(spark, sf)
    val log = Cdc.changeLog(docs).localCheckpoint()
    val t = tmpTable()
    CommitLog.append(spark, t,
      log.filter($"version" === 1).select("doc_id", "version", "fp")
        .repartition(4, $"doc_id"))
    def rewrite(readV: Long, keys: DataFrame, target: DataFrame): Unit = {
      val cur = CommitLog.read(spark, t, Some(readV))
        .withColumn("file", regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1))
      val affected = cur.join(keys, Seq("doc_id")).select("file").distinct()
        .as[String].collect().toSeq
      assert(affected.nonEmpty, "replay fixture produced no affected files")
      val keysInAffected = cur.filter(col("file").isin(affected: _*)).select("doc_id")
      val adds = CommitLog.stage(t,
        target.join(keysInAffected, Seq("doc_id")).repartition(2, $"doc_id"))
      assert(CommitLog.replaceFiles(t, readV, affected, adds).isRight)
    }
    rewrite(0L, log.filter($"version" === 2).select("doc_id"),
      Cdc.snapshotAt(log, 2L).select("doc_id", "version", "fp"))
    rewrite(1L, log.filter($"version" === 3).select("doc_id"),
      Cdc.snapshotAt(log, 3L).select("doc_id", "version", "fp"))
    (t, log)
  }

  private def tableState(t: String, v: Long): Set[(Long, Long, String)] =
    CommitLog.read(spark, t, Some(v)).select("doc_id", "version", "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def oracleState(log: DataFrame, v: Long): Set[(Long, Long, String)] =
    Cdc.snapshotAt(log, v).select("doc_id", "version", "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("copy-on-write replay: read-at-version equals snapshot_at on the same log") {
    val (t, log) = replay()
    (0L to 2L).foreach { v =>
      val (got, want) = (tableState(t, v), oracleState(log, v + 1))
      assert(want.nonEmpty, s"oracle empty at ${v + 1} — vacuous")
      assert(got == want, s"version $v: table ${got.size} vs oracle ${want.size} rows")
    }
    // the MERGE commit was a genuine copy-on-write: it removed only files
    // it rewrote, all of which exist in commit 0's adds
    val Seq(c0, c1, _) = CommitLog.commits(t, 2L)
    assert(c1.removes.nonEmpty && c1.removes.toSet.subsetOf(c0.adds.toSet))
  }

  test("vacuum: retained set derived from the real log; survivors read, horizon enforced") {
    val (t, log) = replay()
    val vMax = CommitLog.latestVersion(t)
    assert(vMax == 2L)
    // retain-last-1 ⇒ retained files = exactly those live at v_max
    val retained = CommitLog.liveFiles(t, vMax).toSet
    val all = CommitLog.commits(t, vMax).flatMap(_.adds).toSet
    val deletable = CommitLog.vacuumable(t, VacuumPlan.RetainVersions)
    assert(deletable.toSet == all -- retained)
    assert(deletable.nonEmpty, "replay produced nothing vacuumable — vacuous")
    assert(CommitLog.vacuum(t, VacuumPlan.RetainVersions).toSet == deletable.toSet)
    // the retained snapshot still answers exactly; pre-horizon reads fail
    assert(tableState(t, vMax) == oracleState(log, vMax + 1))
    intercept[Exception] { CommitLog.read(spark, t, Some(0L)).collect() }
  }

  test("log checkpoint: same state at every version, fewer commit reads after it") {
    val (t, log) = replay()
    val before = (0L to 2L).map(v => CommitLog.liveFiles(t, v))
    assert(CommitLog.checkpoint(t, 1L) == 1L)
    // reads at/after the checkpoint fold from it; reads before it replay
    // the raw log — all three versions must answer identically
    (0L to 2L).foreach { v =>
      assert(CommitLog.liveFiles(t, v) == before(v.toInt),
        s"checkpoint changed version $v's file list")
    }
    // and the data answers are untouched (the v2 snapshot reads through
    // the checkpointed fold)
    assert(tableState(t, 2L) == oracleState(log, 3L))
    // a later checkpoint at head supersedes for head reads
    CommitLog.checkpoint(t)
    assert(CommitLog.liveFiles(t, 2L) == before(2))

    // every action kind: stats, txns, schema, DVs (a restore re-adding
    // DV'd files after OPTIMIZE), constraints and generated columns. Each
    // version's state must be identical read from the raw log and read
    // through two complete checkpoints plus a header-less legacy one
    val r = tmpTable()
    def rows(ids: Range, score: Boolean) = {
      val df = ids.map(i => (i.toLong, s"s$i", 2L * i)).toDF("id", "s", "twice")
      if (score) df.withColumn("score", col("id") * 10L) else df
    }
    CommitLog.appendWithStats(spark, r, rows(0 until 8, score = false).repartition(2),
      ctsMillis = Some(1000L)) // v0
    CommitLog.appendIdempotent(spark, r, rows(8 until 12, score = false), "job", 0L) // v1
    CommitLog.evolveSchema(r, CommitLog.read(spark, r).schema
      .add("score", org.apache.spark.sql.types.LongType)) // v2
    CommitLog.appendIdempotent(spark, r, rows(12 until 16, score = true), "job", 1L,
      withStats = true) // v3
    assert(CommitLog.addConstraint(spark, r, "id_nonneg", "id >= 0") == Right(4L))
    assert(CommitLog.addGeneratedColumn(spark, r, "twice", "id * 2") == Right(5L))
    assert(CommitLog.deleteWhereDv(spark, r, col("id") % 3 === 0L) == Right(6L))
    assert(CommitLog.compact(spark, r) == Right(7L))
    assert(CommitLog.restore(r, 6L) == Right(8L))
    assert(CommitLog.dropConstraint(r, "id_nonneg") == Right(9L))
    assert(CommitLog.dropGeneratedColumn(r, "twice") == Right(10L))
    CommitLog.appendIdempotent(spark, r, rows(16 until 18, score = true), "other", 5L) // v11
    val head = CommitLog.latestVersion(r)
    assert(head == 11L)
    val probes = (0L to head).flatMap { v =>
      CommitLog.commitAt(r, v).actions.collect { case CommitLog.Cts(ms) => Seq(ms - 1, ms) }
        .flatten
    } :+ Long.MaxValue
    def facets(v: Long) = (
      CommitLog.snapshot(r, Some(v)).files.toSeq, CommitLog.liveFiles(r, v),
      CommitLog.liveDvs(r, v), CommitLog.txnLatest(r, "job", v),
      CommitLog.txnLatest(r, "other", v), CommitLog.schemaAt(r, v).map(_.json),
      CommitLog.constraintsAt(r, v), CommitLog.generatedAt(r, v))
    def timeTravel = probes.map(ts => scala.util.Try(CommitLog.versionAtTimestamp(r, ts)).toOption)
    val raw = (0L to head).map(facets)
    val rawTravel = timeTravel
    assert(raw(8)._3.nonEmpty && raw(8)._3 == raw(6)._3, "restore must re-attach the DVs")
    assert(raw(7)._3.isEmpty && raw(0)._1.exists(_._2.isDefined))
    CommitLog.checkpoint(r, 4L)
    CommitLog.checkpoint(r, 8L)
    val legacy = CommitLog.liveFiles(r, 10L).map(f => s"""{"add":"$f"}""")
      .mkString("", "\n", "\n")
    Files.write(java.nio.file.Paths.get(r, "_graft_log", f"${10L}%020d.checkpoint.json"),
      legacy.getBytes("UTF-8"))
    (0L to head).foreach { v =>
      assert(facets(v) == raw(v.toInt), s"checkpoints changed version $v's state")
    }
    assert(timeTravel == rawTravel)
  }

  test("log line format: every action form decodes and re-encodes byte-identically") {
    // one literal line per form: logs written by earlier builds must
    // stay readable, and a rewrite of the codec must not drift
    val golden = Seq(
      """{"add":"../src/0a1b2c3d-part-00000.parquet"}""",
      """{"add":{"path":"0a1b2c3d-part-00001.parquet","statsB64":"eyJuIjozfQ=="}}""",
      """{"remove":"0a1b2c3d-part-00000.parquet"}""",
      """{"txn":{"app":"job","version":7}}""",
      """{"meta":{"schemaB64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbXX0="}}""",
      """{"cts":1700000000000}""",
      """{"dv":{"path":"0a1b2c3d-dv-00000.parquet","target":"0a1b2c3d-part-00001.parquet"}}""",
      """{"dvrm":"0a1b2c3d-part-00001.parquet"}""",
      """{"constraint":{"name":"id_nonneg","exprB64":"aWQgPj0gMA=="}}""",
      """{"constraintrm":"id_nonneg"}""",
      """{"gencol":{"name":"twice","exprB64":"aWQgKiAy"}}""",
      """{"gencolrm":"twice"}""",
      """{"cpv":2}""")
    val decoded = golden.map(CommitLog.decode)
    golden.zip(decoded).foreach { case (l, a) => assert(CommitLog.encode(a) == l, s"$a") }
    assert(decoded.map(_.getClass).distinct.size == 12, "both add shapes + 11 more kinds")
    assert(decoded(1) == CommitLog.Add("0a1b2c3d-part-00001.parquet", Some("eyJuIjozfQ==")))
    assert(decoded(3) == CommitLog.Txn("job", 7L))
    // only the exact encoding is a valid line
    Seq("""{"cts": 5}""", """{"cts":"5"}""", """{"remove":"a","add":"b"}""",
      """{"txn":{"version":7,"app":"job"}}""", """{"add":""}""").foreach { l =>
      intercept[IllegalStateException](CommitLog.decode(l))
    }
  }

  test("MERGE INTO against the real format: cdc_apply's surviving rows are the table's next snapshot") {
    // #119's relational MERGE becomes an actual transaction: commit 0 =
    // the keyed snapshot (doc_id, fp); commit 1 = copy-on-write of the
    // files containing changed keys. The resulting table state must be
    // exactly cdcApply's non-deleted (doc_id, fp) — the semantics and
    // the storage protocol agreeing on the same batch.
    val docs = Tables.documents(spark, sf)
    val changes = Cdc.changeBatch(docs).localCheckpoint()
    val t = tmpTable()
    val fpExpr = "md5(lower(trim(regexp_replace(coalesce(text, ''), '\\\\s+', ' '))))"
    CommitLog.append(spark, t,
      docs.select(col("doc_id"), expr(fpExpr).as("fp")).repartition(4, $"doc_id"))
    // copy-on-write MERGE: affected files = those holding updated or
    // deleted keys (inserts only add); rewrite them with the post-merge
    // rows for their keys, and stage the inserted keys alongside
    val cur = CommitLog.read(spark, t, Some(0L))
      .withColumn("file", regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1))
    val touched = changes.filter($"op" =!= "insert").select("doc_id")
    val affected = cur.join(touched, Seq("doc_id")).select("file").distinct()
      .as[String].collect().toSeq
    val keysInAffected = cur.filter(col("file").isin(affected: _*)).select("doc_id")
    val merged = Cdc.cdcApply(docs, changes)
      .select(col("doc_id"), col("fp"), col("status")).localCheckpoint()
    val rewritten = merged.join(keysInAffected, Seq("doc_id")).select("doc_id", "fp")
    val inserted = merged.filter($"status" === "inserted").select("doc_id", "fp")
    val adds = CommitLog.stage(t, rewritten.unionByName(inserted).repartition(2, $"doc_id"))
    assert(CommitLog.replaceFiles(t, 0L, affected, adds).isRight)
    val tableState = CommitLog.read(spark, t).select("doc_id", "fp")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val mergeAnswer = merged.select("doc_id", "fp")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mergeAnswer.nonEmpty && tableState == mergeAnswer,
      s"table ${tableState.size} vs merge ${mergeAnswer.size}")
    // and the batch genuinely exercised all three verbs
    val ops = changes.select("op").distinct().as[String].collect().toSet
    assert(ops == Set("insert", "update", "delete"))
  }

  test("RESTORE rolls live state back as a new commit; history stays readable") {
    val (t, log) = replay()
    // restore to the post-merge state (version 1), undoing the deletes
    assert(CommitLog.restore(t, 1L) == Right(3L))
    assert(tableState(t, 3L) == oracleState(log, 2L),
      "restored head must equal the target version's state")
    // the bad version is still time-travelable, and the restore is a
    // COMMIT — the pre-restore head is intact too
    assert(tableState(t, 2L) == oracleState(log, 3L))
    // restore recomputes against the live head, so it composes with
    // later commits (its serializability is replaceFiles', already
    // pinned by the stale-rewrite test above)
    CommitLog.append(spark, t, Seq((999999L, 1L, "ff")).toDF("doc_id", "version", "fp"))
    assert(CommitLog.restore(t, 0L).isRight)
  }

  test("OPTIMIZE compacts live files into one, content-identical, old versions intact") {
    val (t, log) = replay()
    val before = tableState(t, 2L)
    val filesBefore = CommitLog.liveFiles(t, 2L).size
    assert(filesBefore > 1, "nothing to compact — vacuous")
    assert(CommitLog.compact(spark, t).isRight)
    assert(CommitLog.liveFiles(t, 3L).size == 1)
    assert(tableState(t, 3L) == before, "compaction changed table content")
    assert(tableState(t, 2L) == oracleState(log, 3L), "pre-compaction version broken")
  }

  test("vacuum × restore interplay: inside the horizon restores exactly; past it fails loudly without committing") {
    // direction 1: the vacuum RETAINED the target's files (retain-last-2
    // keeps every file any of v1/v2 references) — restore works and the
    // restored head answers exactly
    val (t, log) = replay()
    CommitLog.vacuum(t, 2L)
    assert(CommitLog.restore(t, 1L) == Right(3L))
    assert(tableState(t, 3L) == oracleState(log, 2L))
    // direction 2: a retain-last-1 vacuum DROPPED files only v1
    // references (the v2 delete-rewrite removed them from the live set) —
    // the restore must fail BEFORE committing, never manufacture a head
    // over missing files
    val (t2, _) = replay()
    val dropped = CommitLog.vacuum(t2, 1L).toSet
    assert(CommitLog.liveFiles(t2, 1L).exists(dropped), "fixture vacuous: v1 lost no files")
    val headBefore = CommitLog.latestVersion(t2)
    intercept[IllegalArgumentException] { CommitLog.restore(t2, 1L) }
    assert(CommitLog.latestVersion(t2) == headBefore, "failed restore must not commit")
    // restoring to the (fully retained) head itself still works
    assert(CommitLog.restore(t2, headBefore).isRight)
  }

  test("orphan sweep: staged-but-never-committed files are vacuumed, age-gated") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val orphan = CommitLog.stage(t, Seq((2L, "b")).toDF("id", "s"))
    // the log fold can't see them, and fresh files survive the age gate
    // (a concurrent stage mid-commit must never be swept)
    assert(CommitLog.vacuumable(t, 1L).isEmpty)
    assert(CommitLog.orphanFiles(t, minAgeMs = 60000L).isEmpty,
      "fresh staged files must survive the age gate")
    val swept = CommitLog.vacuum(t, 1L, orphanMinAgeMs = 0L)
    assert(swept.toSet == orphan.toSet, s"sweep got $swept, want $orphan")
    assert(CommitLog.read(spark, t).count() == 1, "committed data touched")
  }

  test("guards: retain >= 1 enforced, malformed action lines loud, JSON-breaking names rejected") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    intercept[IllegalArgumentException] { CommitLog.vacuumable(t, 0L) }
    intercept[IllegalArgumentException] {
      CommitLog.tryCommit(t, 1L, Seq(CommitLog.Add("evil\"name.parquet")))
    }
    // a future-extended/malformed action must not yield a silently wrong
    // snapshot: write a non-add/remove line as commit 1 and read through it
    Files.writeString(java.nio.file.Paths.get(t, "_graft_log", f"${1L}%020d.json"),
      "{\"metaData\":{\"id\":\"x\"}}\n")
    intercept[IllegalStateException] { CommitLog.liveFiles(t, 1L) }
  }

  test("N-writer stress: 8 racing appenders + 1 compactor — linearizable history, zero lost commits") {
    // CREATE_NEW's exclusivity claim at its real concurrency (round 12):
    // 8 appender threads × 5 commits race each other AND a compactor
    // that keeps rewriting the whole table. Linearizable history =
    // versions are contiguous 0..vMax with a unique winner each (the
    // filesystem enforces it; this proves the retry protocols preserve
    // it under contention), each thread's own versions are in program
    // order, and no commit — append or compaction — is lost or doubled.
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((0L, 0L)).toDF("writer", "seq"))
    val writers = 8
    val perWriter = 5
    val pool = Executors.newFixedThreadPool(writers + 1)
    val start = new CountDownLatch(1)
    val appendersLive = new java.util.concurrent.atomic.AtomicInteger(writers)
    val appendRetries = new java.util.concurrent.atomic.AtomicInteger(0)
    val compactorConflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    def appender(w: Int) = pool.submit(new Callable[Seq[Long]] {
      def call(): Seq[Long] = {
        start.await()
        val vs = (1 to perWriter).map { s =>
          val (v, tries) = CommitLog.appendWithRetries(spark, t,
            Seq(((w + 1).toLong, s.toLong)).toDF("writer", "seq"))
          appendRetries.addAndGet(tries)
          v
        }
        appendersLive.decrementAndGet()
        vs
      }
    })
    val compactor = pool.submit(new Callable[Seq[Long]] {
      def call(): Seq[Long] = {
        start.await()
        val won = scala.collection.mutable.ArrayBuffer.empty[Long]
        var finalDone = false
        while (!finalDone) {
          val quiesced = appendersLive.get() == 0
          CommitLog.compact(spark, t) match {
            case Right(v) => won += v; if (quiesced) finalDone = true
            case Left(_) => compactorConflicts.incrementAndGet()
          }
        }
        won.toSeq
      }
    })
    val futs = (0 until writers).map(appender)
    start.countDown()
    val appendVersions = futs.map(_.get())
    val compactVersions = compactor.get()
    pool.shutdown()

    // zero lost commits: every returned version is a distinct slot, and
    // the history is gapless 0..vMax — nothing overwritten, nothing burned
    val all = appendVersions.flatten ++ compactVersions :+ 0L
    val vMax = CommitLog.latestVersion(t)
    assert(all.distinct.size == all.size, s"two writers report the same version: $all")
    assert(all.toSet == (0L to vMax).toSet,
      s"history has gaps or unaccounted commits: vMax=$vMax, returned=${all.sorted}")
    // per-thread program order is version order (linearizability witness)
    appendVersions.foreach(vs => assert(vs == vs.sorted, s"out-of-order session: $vs"))
    assert(compactVersions == compactVersions.sorted && compactVersions.nonEmpty)
    // content: the final snapshot holds the base row + all 40 appended
    // rows exactly once, through every interleaved compaction
    val rows = CommitLog.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expected = ((0L, 0L) +: (for (w <- 1 to writers; s <- 1 to perWriter)
      yield (w.toLong, s.toLong))).sorted
    assert(rows == expected, s"rows lost or doubled: got ${rows.size}, want ${expected.size}")
    info(s"appends=${writers * perWriter} appendRetries=${appendRetries.get()} " +
      s"compactions=${compactVersions.size} compactorConflicts=${compactorConflicts.get()}")
  }

  test("idempotent append: duplicate and stale deliveries skipped, watermark atomic with the commit") {
    val t = tmpTable()
    // monotone versions land
    assert(CommitLog.appendIdempotent(spark, t, Seq((1L, "a")).toDF("id", "s"),
      "job", 0L) == Some(0L))
    assert(CommitLog.appendIdempotent(spark, t, Seq((2L, "b")).toDF("id", "s"),
      "job", 1L) == Some(1L))
    // duplicate delivery of batch 1: skipped, no rows added
    assert(CommitLog.appendIdempotent(spark, t, Seq((2L, "b")).toDF("id", "s"),
      "job", 1L).isEmpty)
    // stale out-of-order retry of batch 0: skipped too
    assert(CommitLog.appendIdempotent(spark, t, Seq((1L, "a")).toDF("id", "s"),
      "job", 0L).isEmpty)
    // a DIFFERENT app id is an independent watermark
    assert(CommitLog.appendIdempotent(spark, t, Seq((3L, "c")).toDF("id", "s"),
      "other", 0L) == Some(2L))
    // plain appends interleave freely (no txn action, no watermark effect)
    CommitLog.append(spark, t, Seq((4L, "d")).toDF("id", "s"))
    assert(CommitLog.txnLatest(t, "job") == 1L &&
      CommitLog.txnLatest(t, "other") == 0L &&
      CommitLog.txnLatest(t, "nobody") == -1L)
    assert(CommitLog.appendIdempotent(spark, t, Seq((5L, "e")).toDF("id", "s"),
      "job", 2L) == Some(4L))
    assert(CommitLog.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("idempotent append: concurrent deliveries of ONE batch — exactly one lands") {
    // the recovery race itself: two writers re-deliver the same
    // (appId, txnVersion) at once; the loser's version race forces a
    // watermark re-check against the winner's committed txn. Several
    // rounds, with a concurrent plain appender to keep the head moving.
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((0L, 0L)).toDF("batch", "copy"))
    val pool = Executors.newFixedThreadPool(3)
    (1 to 4).foreach { b =>
      val start = new CountDownLatch(1)
      def deliverer(copy: Long) = pool.submit(new Callable[Option[Long]] {
        def call(): Option[Long] = {
          start.await()
          CommitLog.appendIdempotent(spark, t,
            Seq((b.toLong, copy)).toDF("batch", "copy"), "sink", b.toLong)
        }
      })
      val noise = pool.submit(new Callable[Long] {
        def call(): Long = {
          start.await()
          CommitLog.append(spark, t, Seq((-b.toLong, 0L)).toDF("batch", "copy"))
        }
      })
      val (d1, d2) = (deliverer(1L), deliverer(2L))
      start.countDown()
      val landed = Seq(d1.get(), d2.get()).flatten
      noise.get()
      assert(landed.size == 1, s"batch $b: both deliveries landed: $landed")
    }
    pool.shutdown()
    val perBatch = CommitLog.read(spark, t).filter(col("batch") > 0)
      .groupBy("batch").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBatch == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"duplicate batch rows survived: $perBatch")
  }

  test("idempotent streaming sink: a full from-scratch replay adds nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val t = tmpTable()
    val src = Files.createTempDirectory("graft_clsink_src").toString
    val events = Tables.events(spark, sf).select("event_id", "user_id", "event_type")
    // four arrival chunks, each its own micro-batch (fresh file per pass)
    val ordered = events.orderBy("event_id").collect()
    def runStream(ckpt: String): Unit =
      ordered.grouped(math.max(ordered.length / 4, 1)).zipWithIndex.foreach { case (c, i) =>
        spark.createDataFrame(spark.sparkContext.parallelize(c.toSeq, 1), events.schema)
          .write.mode("append").parquet(src)
        val q = spark.readStream.schema(events.schema).parquet(src)
          .writeStream
          .foreachBatch(StreamingJobs.commitLogSinkBatch(t, "ev_sink"))
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
      }
    runStream(Files.createTempDirectory("graft_clsink_ck1").toString)
    val after1 = CommitLog.read(spark, t).select("event_id").as[Long].collect().sorted.toSeq
    assert(after1 == ordered.map(_.getLong(0)).sorted.toSeq,
      "first run must land every event exactly once")
    val v1 = CommitLog.latestVersion(t)
    // FULL re-run with a fresh streaming checkpoint: every batch is a
    // re-delivery (batchIds restart at 0) — the table's own watermark
    // rejects all of them; source files double on disk, the table doesn't
    runStream(Files.createTempDirectory("graft_clsink_ck2").toString)
    val after2 = CommitLog.read(spark, t).select("event_id").as[Long].collect().sorted.toSeq
    assert(after2 == after1, "replay duplicated rows through the sink")
    assert(CommitLog.latestVersion(t) == v1, "replay created new versions")
  }

  test("partitioned idempotent sink: exactly-once AND value-pure partition files; replay adds nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val t = tmpTable()
    val src = Files.createTempDirectory("graft_clpsink_src").toString
    val events = Tables.events(spark, sf).select("event_id", "user_id", "event_type")
    val ordered = events.orderBy("event_id").collect()
    def runStream(ckpt: String): Unit =
      ordered.grouped(math.max(ordered.length / 3, 1)).zipWithIndex.foreach { case (c, _) =>
        spark.createDataFrame(spark.sparkContext.parallelize(c.toSeq, 1), events.schema)
          .write.mode("append").parquet(src)
        val q = spark.readStream.schema(events.schema).parquet(src)
          .writeStream
          .foreachBatch(StreamingJobs.commitLogSinkBatchPartitioned(
            t, "evp_sink", Seq("event_type")))
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
      }
    runStream(Files.createTempDirectory("graft_clpsink_ck1").toString)
    val after1 = CommitLog.read(spark, t).select("event_id").as[Long].collect().sorted.toSeq
    assert(after1 == ordered.map(_.getLong(0)).sorted.toSeq,
      "partitioned sink must land every event exactly once")
    // every landed file is value-pure in the partition column, and an
    // equality probe prunes exactly (zero non-matching rows kept)
    val v1 = CommitLog.latestVersion(t)
    CommitLog.liveFiles(t, v1).foreach { f =>
      val one = spark.read.parquet(java.nio.file.Paths.get(t, f).toString)
      assert(one.select("event_type").distinct().count() == 1L,
        s"sink file $f not partition-value-pure")
    }
    val probe = CommitLog.read(spark, t).select("event_type")
      .orderBy("event_type").head().getString(0)
    assert(CommitLog.readPruned(spark, t, col("event_type") === probe)
      .filter(col("event_type") =!= probe).isEmpty,
      "partitioned sink stats must prune exactly")
    // full from-scratch replay: the txn watermark rejects every batch
    runStream(Files.createTempDirectory("graft_clpsink_ck2").toString)
    assert(CommitLog.latestVersion(t) == v1, "replay created new versions")
  }

  test("exactly-once PIPE: idempotent sink -> incremental source, end to end through one table") {
    // round 14: the two exactly-once halves composed — a replayable
    // writer lands each micro-batch once (appendIdempotent) while a
    // DOWNSTREAM cursor consumer drains the same table between batches
    // (readIncremental). The pipe's contract: the consumer's accumulated
    // rows equal the source exactly once, and a full from-scratch sink
    // replay moves NEITHER the table NOR the consumer's cursor.
    import org.apache.spark.sql.streaming.Trigger
    val t = tmpTable()
    val src = Files.createTempDirectory("graft_pipe_src").toString
    val events = Tables.events(spark, sf).select("event_id", "user_id", "event_type")
    val ordered = events.orderBy("event_id").collect()
    var cursor = -1L
    val drained = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = {
      val (batch, c) = CommitLog.readIncremental(spark, t, cursor)
      if (batch.columns.nonEmpty)
        drained ++= batch.select("event_id").as[Long].collect()
      cursor = c
    }
    def runStream(ckpt: String): Unit =
      ordered.grouped(math.max(ordered.length / 4, 1)).zipWithIndex.foreach { case (c, i) =>
        spark.createDataFrame(spark.sparkContext.parallelize(c.toSeq, 1), events.schema)
          .write.mode("append").parquet(src)
        val q = spark.readStream.schema(events.schema).parquet(src)
          .writeStream
          .foreachBatch(StreamingJobs.commitLogSinkBatch(t, "pipe_sink"))
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
        drain() // consumer keeps pace with the writer
      }
    runStream(Files.createTempDirectory("graft_pipe_ck1").toString)
    assert(drained.sorted.toSeq == ordered.map(_.getLong(0)).sorted.toSeq,
      "pipe must deliver every event to the consumer exactly once")
    // from-scratch sink replay: batchIds restart, the table watermark
    // rejects every re-delivery, and the consumer's cursor sees nothing
    val cursorBefore = cursor
    runStream(Files.createTempDirectory("graft_pipe_ck2").toString)
    assert(drained.sorted.toSeq == ordered.map(_.getLong(0)).sorted.toSeq,
      "replay leaked duplicate rows through the pipe")
    assert(cursor == cursorBefore, "replay advanced the consumer cursor")
  }

  test("history classifier: verbs derived from the log alone match the script; empty corpus total") {
    import graft.operators.CommitLogRead
    // small corpus: the classifier must label v2 replace (removes + fresh
    // adds), v4 restore (removes + re-adds of HISTORICAL files), v5
    // replace (optimize stages fresh files)
    val docs = (0L until 12L).map(i => (i, s"s${i % 3}", 10L + i))
      .toDF("doc_id", "source", "n_chars")
    val got = CommitLogRead.commitLogHistoryQ(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._2).toSeq ==
      Seq("append", "append", "replace", "append", "restore", "replace"), s"verbs: ${got.toSeq}")
    // live row counts replay the script: 4 thirds-0; +4 thirds-1; odd-only;
    // + thirds-2; restore(v1); optimize == v4
    assert(got.map(_._3).toSeq == Seq(4L, 8L, 4L, 8L, 8L, 8L), s"counts: ${got.toSeq}")
    // empty corpus: an empty append still STAGES a (zero-row) parquet
    // file, so the log carries real adds/removes and the classifier
    // reads the same verb sequence as the script — measured, not the
    // all-append degenerate one might expect — with every count 0
    val empty = Seq.empty[(Long, String, Long)].toDF("doc_id", "source", "n_chars")
    val e = CommitLogRead.commitLogHistoryQ(empty).collect()
    assert(e.length == 6 && e.forall(_.getLong(2) == 0L))
    assert(e.map(_.getString(1)).toSeq ==
      Seq("append", "append", "replace", "append", "restore", "replace"))
  }

  test("vacuum_plan over the DERIVED change feed matches the synthetic-log answer") {
    val (t, _) = replay()
    val derived = CommitLog.tableChanges(spark, t, "doc_id")
      .select(col("doc_id"), (col("version") + 1).as("version"), col("op"))
    def rows(df: DataFrame) = df
      .select("version", "n_entries", "n_retained", "n_vacuumable", "n_tombstones_retained")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val got = rows(VacuumPlan.vacuumPlan(derived))
    val want = rows(VacuumPlan.vacuumPlanQ(Tables.documents(spark, sf)))
    assert(got == want, s"derived-feed vacuum plan diverges: $got vs $want")
  }

  test("incremental source: each appended row delivered EXACTLY ONCE across cursor reads") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0
    val (b1, c1) = CommitLog.readIncremental(spark, t, fromVersion = -1L)
    assert(c1 == 0L && b1.select("id").as[Long].collect().toSet == Set(1L, 2L))
    CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s")) // v1
    CommitLog.append(spark, t, Seq((4L, "d")).toDF("id", "s")) // v2
    val (b2, c2) = CommitLog.readIncremental(spark, t, c1)
    assert(c2 == 2L && b2.select("id").as[Long].collect().toSet == Set(3L, 4L),
      "second pull must deliver exactly the two new commits' rows")
    // caught-up cursor: empty batch, cursor unchanged
    val (b3, c3) = CommitLog.readIncremental(spark, t, c2)
    assert(c3 == 2L && b3.count() == 0, "caught-up pull must be empty")
    // the pulls partition the table: union == snapshot, no overlap
    assert(b1.unionAll(b2).count() == CommitLog.read(spark, t).count())
  }

  test("incremental source: a rewrite inside the range fails loudly (append-only contract)") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
    CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s")) // v1
    assert(CommitLog.compact(spark, t).isRight) // v2: removes files
    // a range that stops BEFORE the compaction still serves
    assert(CommitLog.readIncremental(spark, t, -1L, toVersion = 1L)
      ._1.count() == 2)
    // a range crossing it must throw, not silently re-emit or skip
    val e = intercept[IllegalArgumentException] {
      CommitLog.readIncremental(spark, t, 1L)
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }

  test("incremental source across a schema evolution: metadata emits nothing, batch reads under the new schema") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
    CommitLog.evolveSchema(t, CommitLog.read(spark, t).schema
      .add("score", org.apache.spark.sql.types.LongType)) // v1
    CommitLog.append(spark, t, Seq((2L, "b", 20L)).toDF("id", "s", "score")) // v2
    val (b, c) = CommitLog.readIncremental(spark, t, -1L)
    assert(c == 2L && b.columns.toSeq == Seq("id", "s", "score"))
    val rows = b.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(rows == Set(1L -> None, 2L -> Some(20L)), s"evolved batch: $rows")
  }

  test("schema evolution: every version reads under ITS OWN schema; old snapshots unchanged") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0
    val evolved = CommitLog.read(spark, t).schema
      .add("score", org.apache.spark.sql.types.LongType)
    assert(CommitLog.evolveSchema(t, evolved) == 1L) // v1: metadata only
    CommitLog.append(spark, t, Seq((3L, "c", 30L)).toDF("id", "s", "score")) // v2
    // pre-evolution snapshot: exactly the old schema, old rows
    val at0 = CommitLog.read(spark, t, Some(0L))
    assert(at0.columns.toSeq == Seq("id", "s") && at0.count() == 2,
      s"v0 changed under evolution: ${at0.columns.toSeq}")
    assert(CommitLog.schemaAt(t, 0L).isEmpty, "schemaAt leaked past its version")
    // the metadata-only version: new schema, SAME rows, NULL-filled column
    val at1 = CommitLog.read(spark, t, Some(1L))
    assert(at1.columns.toSeq == Seq("id", "s", "score") &&
      at1.count() == 2 && at1.filter(col("score").isNull).count() == 2,
      "evolution commit must change schema, not rows")
    // head: old files surface NULLs, the new file carries the column
    val head = CommitLog.read(spark, t)
      .select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    assert(head == Set(1L -> None, 2L -> None, 3L -> Some(30L)), s"head read: $head")
    // a log checkpoint doesn't lose the schema (meta lives in commit
    // files, which checkpointing never deletes)
    CommitLog.checkpoint(t)
    assert(CommitLog.read(spark, t).columns.toSeq == Seq("id", "s", "score"))
    // old-schema writers keep working after the evolution: their files
    // simply lack the column
    CommitLog.append(spark, t, Seq((4L, "d")).toDF("id", "s"))
    val after = CommitLog.read(spark, t).filter(col("id") === 4L).collect()(0)
    assert(after.isNullAt(2), "old-schema append must read NULL in the new column")
  }

  test("CDF across an evolution: the metadata-only commit emits ZERO change rows; filling the column is an update") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
    CommitLog.evolveSchema(t,
      CommitLog.read(spark, t).schema
        .add("score", org.apache.spark.sql.types.LongType)) // v1
    CommitLog.append(spark, t, Seq((2L, "b", 20L)).toDF("id", "s", "score")) // v2
    // v3: copy-on-write fill of row 1's score — a REAL row change
    val head = CommitLog.latestVersion(t)
    val adds = CommitLog.stage(t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "score"))
    assert(CommitLog.replaceFiles(t, head, CommitLog.liveFiles(t, head), adds).isRight)
    val ch = CommitLog.tableChanges(spark, t, "id")
      .select("version", "id", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(!ch.exists(_._1 == 1L),
      s"ADD COLUMN emitted change rows: ${ch.filter(_._1 == 1L)}")
    assert(ch.filter(_._1 == 2L) == Set((2L, 2L, "insert")), s"v2 changes: $ch")
    assert(ch.filter(_._1 == 3L) == Set((3L, 1L, "update")),
      s"filling the column must fingerprint as an update: $ch")
  }

  test("complete checkpoint folds txn watermarks + schema: answers stay correct with pre-checkpoint commits GONE") {
    // round 14 (r13 verdict #5 + advice): a v2 checkpoint is a complete
    // snapshot — txnLatest/schemaAt/liveFiles must answer from it plus
    // the suffix only. Proven the strong way: move every pre-checkpoint
    // commit file out of the log — an answer that still walks below the
    // checkpoint now throws on the missing file instead of silently
    // costing O(V).
    val t = tmpTable()
    assert(CommitLog.appendIdempotent(spark, t,
      Seq((1L, "a")).toDF("id", "s"), "job", 0L).contains(0L))
    assert(CommitLog.appendIdempotent(spark, t,
      Seq((2L, "b")).toDF("id", "s"), "job", 1L).contains(1L))
    CommitLog.evolveSchema(t, CommitLog.read(spark, t).schema
      .add("score", org.apache.spark.sql.types.LongType)) // v2
    assert(CommitLog.appendIdempotent(spark, t,
      Seq((3L, "c", 30L)).toDF("id", "s", "score"), "other", 7L).contains(3L))
    CommitLog.checkpoint(t) // folds files + txns{job→1, other→7} + schema, at v3
    CommitLog.append(spark, t, Seq((4L, "d", 40L)).toDF("id", "s", "score")) // v4 suffix
    // exile commits 0..3 — only the checkpoint + v4 remain readable
    val log = java.nio.file.Paths.get(t, "_graft_log")
    val exile = java.nio.file.Files.createTempDirectory("graft_cl_exile")
    (0L to 3L).foreach { v =>
      java.nio.file.Files.move(log.resolve(f"$v%020d.json"), exile.resolve(f"$v%020d.json"))
    }
    assert(CommitLog.txnLatest(t, "job") == 1L, "job watermark must come from the checkpoint")
    assert(CommitLog.txnLatest(t, "other") == 7L)
    assert(CommitLog.txnLatest(t, "nobody") == -1L,
      "a never-written app must stop at the checkpoint, not walk to genesis")
    assert(CommitLog.schemaAt(t).exists(_.fieldNames.contains("score")),
      "schema must come from the checkpoint's folded meta")
    assert(CommitLog.read(spark, t).count() == 4)
    // a new checkpoint is built from the old one plus the suffix — it
    // never needs the retired commits
    assert(CommitLog.checkpoint(t) == 4L)
    assert(CommitLog.txnLatest(t, "job") == 1L)
    assert(CommitLog.txnLatest(t, "other") == 7L)
    assert(CommitLog.txnLatest(t, "nobody") == -1L)
    assert(CommitLog.schemaAt(t).exists(_.fieldNames.contains("score")))
    assert(CommitLog.read(spark, t).count() == 4)
    // the idempotent sink keeps its exactly-once semantics O(suffix)
    assert(CommitLog.appendIdempotent(spark, t,
      Seq((9L, "x", 90L)).toDF("id", "s", "score"), "job", 1L).isEmpty,
      "duplicate delivery must be skipped off the checkpointed watermark")
    assert(CommitLog.appendIdempotent(spark, t,
      Seq((5L, "e", 50L)).toDF("id", "s", "score"), "job", 2L).contains(5L))
  }

  test("legacy adds-only checkpoint: txn/schema walks fall through past it — never a wrong answer") {
    val t = tmpTable()
    assert(CommitLog.appendIdempotent(spark, t,
      Seq((1L, "a")).toDF("id", "s"), "job", 4L).contains(0L))
    CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s")) // v1
    // hand-write a PRE-v2 checkpoint at v1: live files only, no header
    val body = CommitLog.liveFiles(t, 1L).map(f => s"""{"add":"$f"}""")
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_graft_log", f"${1L}%020d.checkpoint.json"),
      body.getBytes("UTF-8"))
    // file state may be trusted; the txn answer must NOT stop at the
    // incomplete snapshot (that would forget job's watermark and let a
    // duplicate batch land twice)
    assert(CommitLog.read(spark, t).count() == 2)
    assert(CommitLog.txnLatest(t, "job") == 4L,
      "legacy checkpoint must be walked past for txn state")
    assert(CommitLog.appendIdempotent(spark, t,
      Seq((9L, "x")).toDF("id", "s"), "job", 4L).isEmpty)
  }

  test("evolveSchema validates widening-only: drop/rename/type-change rejected loudly") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val cur = CommitLog.read(spark, t).schema
    // first evolution: no committed schema yet — caller supplies the
    // baseline (the written frame's schema); a widening ADD passes
    CommitLog.evolveSchema(t,
      cur.add("score", org.apache.spark.sql.types.LongType),
      baseline = Some(cur))
    import org.apache.spark.sql.types._
    def bad(s: StructType): Unit =
      intercept[IllegalArgumentException] { CommitLog.evolveSchema(t, s) }
    bad(StructType(Seq(StructField("id", LongType)))) // drops s + score
    bad(StructType(Seq(StructField("id", LongType), StructField("str", StringType),
      StructField("score", LongType)))) // renames s -> str
    bad(StructType(Seq(StructField("id", IntegerType), StructField("s", StringType),
      StructField("score", LongType)))) // narrows id's type
    // and a further widening still passes against the committed schema
    CommitLog.evolveSchema(t, CommitLog.schemaAt(t).get
      .add("extra", StringType))
    assert(CommitLog.schemaAt(t).get.fieldNames.toSeq ==
      Seq("id", "s", "score", "extra"))
  }

  test("renameColumn/dropColumn: copy-on-write round-trip; every old version reads bit-identical") {
    val t = tmpTable()
    CommitLog.append(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "n")) // v0
    assert(CommitLog.renameColumn(spark, t, "n", "len") == Right(1L)) // v1
    val head1 = CommitLog.read(spark, t)
    assert(head1.columns.toSeq == Seq("id", "s", "len"))
    assert(head1.select("id", "len").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet == Set(1L -> 10L, 2L -> 20L),
      "rename must carry every value across the rewrite")
    // the PRE-rename version: old schema over old files, untouched
    val at0 = CommitLog.read(spark, t, Some(0L))
    assert(at0.columns.toSeq == Seq("id", "s", "n") && at0.count() == 2,
      s"v0 changed under rename: ${at0.columns.toSeq}")
    CommitLog.append(spark, t, Seq((3L, "c", 30L)).toDF("id", "s", "len")) // v2
    assert(CommitLog.dropColumn(spark, t, "s") == Right(3L)) // v3
    val head3 = CommitLog.read(spark, t)
    assert(head3.columns.toSeq == Seq("id", "len") && head3.count() == 3)
    assert(CommitLog.read(spark, t, Some(2L)).columns.contains("s"),
      "dropped column must survive in historical reads")
    // guards: duplicate target, unknown source, last-column drop
    intercept[IllegalArgumentException] { CommitLog.renameColumn(spark, t, "id", "len") }
    intercept[IllegalArgumentException] { CommitLog.renameColumn(spark, t, "ghost", "g2") }
    intercept[IllegalArgumentException] {
      CommitLog.dropColumn(spark, t, "len")
      CommitLog.dropColumn(spark, t, "id")
    }
    // the incremental source refuses the rewrite range (append-only
    // contract) instead of re-emitting rewritten rows
    intercept[IllegalArgumentException] {
      CommitLog.readIncremental(spark, t, -1L)
    }
  }

  test("deleteWhere is FILE-GRANULAR: match-free files survive by NAME; no-op commits nothing") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a"), (5L, "e")).toDF("id", "s")) // v0: has id=5
    CommitLog.append(spark, t, Seq((2L, "b"), (3L, "c")).toDF("id", "s")) // v1: match-free
    val v1Files = CommitLog.commits(t, 1L).last.adds.toSet
    assert(CommitLog.deleteWhere(spark, t, col("id") === 5L) == Right(2L))
    val live = CommitLog.liveFiles(t, 2L).toSet
    assert(v1Files.subsetOf(live),
      s"match-free files were rewritten: ${v1Files -- live}")
    assert(CommitLog.read(spark, t).select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    // the pre-delete snapshot still shows the row (copy-on-write history)
    assert(CommitLog.read(spark, t, Some(1L)).count() == 4)
    // deleting EVERY row of a file removes it without a zero-row re-add
    // problem (adds may be empty; the commit is removes-only)
    assert(CommitLog.deleteWhere(spark, t, col("id") === 1L).isRight)
    assert(CommitLog.read(spark, t).select("id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L))
    // no-op: nothing matches -> NO commit, head unchanged
    val head = CommitLog.latestVersion(t)
    assert(CommitLog.deleteWhere(spark, t, col("id") === 99L) == Right(head))
    assert(CommitLog.latestVersion(t) == head)
  }

  test("compactClustered: content identity under any key; range files carry disjoint key ranges") {
    val t = tmpTable()
    // 4×4 (user, day) grid — a day-sorted layout gives every file the
    // full user range; a user-range layout bounds it
    val grid = for { u <- 0L to 3L; d <- 0L to 3L } yield (u * 10, d, u * 10 + d)
    CommitLog.append(spark, t, grid.toDF("user_id", "day", "v")) // v0
    assert(CommitLog.compactClustered(spark, t, df => df("user_id"), 4) == Right(1L))
    val rows = CommitLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == grid.toSet, "clustered OPTIMIZE must never change content")
    assert(CommitLog.read(spark, t, Some(0L)).count() == 16)
    // range partitioning: per-file user ranges are DISJOINT (each file
    // one contiguous key range — the zone-map-prunable layout)
    val ranges = CommitLog.read(spark, t)
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("user_id").as("lo"), max("user_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file key ranges must be disjoint: ${ranges.toSeq}")
      case _ =>
    }
  }

  test("updateWhere is FILE-GRANULAR with OLD-ROW predicate semantics; schema preserved; no-op commits nothing") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, 10L), (5L, 50L)).toDF("id", "v")) // v0: has id=5
    CommitLog.append(spark, t, Seq((2L, 20L), (3L, 30L)).toDF("id", "v")) // v1: match-free
    val v1Files = CommitLog.commits(t, 1L).last.adds.toSet
    // the predicate READS a SET column: cond must see the OLD value —
    // v = 50 matches and becomes 0; no row can match its own new value
    assert(CommitLog.updateWhere(spark, t, col("v") === 50L,
      Seq("v" -> lit(0L), "id" -> (col("id") + 100L))) == Right(2L))
    val live = CommitLog.liveFiles(t, 2L).toSet
    assert(v1Files.subsetOf(live),
      s"match-free files were rewritten: ${v1Files -- live}")
    val rows = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(rows == Set(1L -> 10L, 105L -> 0L, 2L -> 20L, 3L -> 30L),
      s"old-row semantics violated: $rows")
    // count conservation: update rewrites values, never row sets
    assert(CommitLog.read(spark, t).count() == 4)
    // the pre-update snapshot still reads the ORIGINAL values
    assert(CommitLog.read(spark, t, Some(1L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
      == Set(1L -> 10L, 5L -> 50L, 2L -> 20L, 3L -> 30L))
    // SET value is cast to the column's existing type — an INT literal
    // lands as the column's LONG, schema surviving bit-for-bit
    assert(CommitLog.updateWhere(spark, t, col("id") === 1L,
      Seq("v" -> lit(7))).isRight)
    assert(CommitLog.read(spark, t).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // every SET right-hand side reads the OLD row: v takes the
    // PRE-update id even though an earlier SET in the SAME statement
    // rewrites id
    assert(CommitLog.updateWhere(spark, t, col("id") === 2L,
      Seq("id" -> (col("id") + 100L), "v" -> col("id"))).isRight)
    assert(CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet.contains(102L -> 2L),
      "SET RHS must evaluate against the old row, not an earlier SET's result")
    // unknown SET column fails loudly, nothing committed
    val head = CommitLog.latestVersion(t)
    intercept[IllegalArgumentException] {
      CommitLog.updateWhere(spark, t, col("id") === 1L, Seq("nope" -> lit(1L)))
    }
    assert(CommitLog.latestVersion(t) == head)
    // no-op: nothing matches -> NO commit, head unchanged
    assert(CommitLog.updateWhere(spark, t, col("id") === 99L,
      Seq("v" -> lit(0L))) == Right(head))
    assert(CommitLog.latestVersion(t) == head)
  }

  test("restore across an evolution: rows roll back, the evolved schema survives (log-level metadata)") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
    CommitLog.evolveSchema(t,
      CommitLog.read(spark, t).schema
        .add("score", org.apache.spark.sql.types.LongType)) // v1
    CommitLog.append(spark, t, Seq((2L, "b", 20L)).toDF("id", "s", "score")) // v2
    assert(CommitLog.restore(t, 0L).isRight) // v3: back to v0's files
    val restored = CommitLog.read(spark, t)
    assert(restored.columns.toSeq == Seq("id", "s", "score"),
      "restore must not roll back the schema — evolution is log metadata, not file state")
    val rows = restored.select("id", "score").collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toSet
    assert(rows == Set(1L -> true), s"restored rows: $rows")
    // and the bad versions stay time-travelable under their own schemas
    assert(CommitLog.read(spark, t, Some(2L)).count() == 2)
    assert(CommitLog.read(spark, t, Some(0L)).columns.toSeq == Seq("id", "s"))
  }

  // ------------------------------------------- round 15: TIMESTAMP AS OF

  test("timestamp resolution: at-or-before, monotonized, loud before genesis") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"), ctsMillis = Some(100L))
    CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"), ctsMillis = Some(300L))
    // wall clock ran BACKWARD on the third writer: version order wins —
    // v2 resolves at v1's instant, never ahead of it
    CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"), ctsMillis = Some(200L))
    assert(CommitLog.versionAtTimestamp(t, 100L) == 0L)
    assert(CommitLog.versionAtTimestamp(t, 250L) == 0L,
      "the raw out-of-order 200 must not win over v1's 300")
    assert(CommitLog.versionAtTimestamp(t, 300L) == 2L)
    assert(CommitLog.versionAtTimestamp(t, Long.MaxValue) == 2L)
    assert(CommitLog.readAtTimestamp(spark, t, 299L).count() == 1)
    assert(CommitLog.readAtTimestamp(spark, t, 300L).count() == 3)
    intercept[IllegalArgumentException] {
      CommitLog.versionAtTimestamp(t, 99L)
    }
  }

  // ----------------------------------------- round 15: data-skipping stats

  private def statsTable(): String = {
    val t = tmpTable()
    // 3 files with DISJOINT id ranges (the clustered layout skipping
    // exists for), stats committed in the add actions
    CommitLog.appendWithStats(spark, t,
      (0L until 30L).map(i => (i, s"s$i")).toDF("id", "s")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"))
    t
  }

  test("data skipping: selective predicate prunes files, rows identical to full filter") {
    val t = statsTable()
    assert(CommitLog.liveFiles(t, 0L).size == 3)
    val cond = col("id") >= 10L && col("id") <= 14L
    val kept = CommitLog.prunedLiveFiles(spark, t, cond)
    assert(kept.size < 3, s"middle band must prune: kept $kept")
    val pruned = CommitLog.readWhere(spark, t, cond)
      .select("id").as[Long].collect().sorted.toSeq
    val full = CommitLog.read(spark, t).filter(cond)
      .select("id").as[Long].collect().sorted.toSeq
    assert(pruned == full && full == (10L to 14L).toSeq)
    // OR composition: a predicate reaching both END files prunes exactly
    // the middle one — per-disjunct necessary conditions, OR'd
    val both = col("id") === 0L || col("id") === 29L
    assert(CommitLog.prunedLiveFiles(spark, t, both).size == 2)
    assert(CommitLog.readWhere(spark, t, both)
      .select("id").as[Long].collect().toSet == Set(0L, 29L))
  }

  test("data skipping: stats-less adds (legacy/rewrite) are never pruned") {
    val t = statsTable()
    // a plain append carries no stats — its file must survive EVERY prune
    CommitLog.append(spark, t, Seq((100L, "x")).toDF("id", "s"))
    val legacy = CommitLog.commits(t, 1L).last.adds.toSet
    val kept = CommitLog.prunedLiveFiles(spark, t, col("id") === 12L).toSet
    assert(legacy.subsetOf(kept), "stats-less files must always survive")
    assert(CommitLog.readWhere(spark, t, col("id") === 100L)
      .count() == 1, "the row in the stats-less file must be found")
  }

  test("data skipping: stats fold through checkpoints; unknown predicates keep everything") {
    val t = statsTable()
    val cond = col("id") >= 10L && col("id") <= 14L
    val before = CommitLog.prunedLiveFiles(spark, t, cond).sorted
    CommitLog.checkpoint(t)
    // the fold now starts from the checkpoint — identical census
    assert(CommitLog.prunedLiveFiles(spark, t, cond).sorted == before)
    // a predicate the rewrite does not understand prunes NOTHING
    assert(CommitLog.prunedLiveFiles(spark, t,
      expr("id % 7 = 3")).size == 3)
    // column-column comparison: unknown, keep all
    assert(CommitLog.prunedLiveFiles(spark, t, col("id") === col("id")).size == 3)
  }

  test("data skipping: null-census predicates and all-null columns stay sound") {
    val t = tmpTable()
    CommitLog.appendWithStats(spark, t,
      Seq((1L, Option("a")), (2L, Option("b"))).toDF("id", "s")
        .repartition(1))
    CommitLog.appendWithStats(spark, t,
      Seq((3L, Option.empty[String]), (4L, Option.empty[String])).toDF("id", "s")
        .repartition(1))
    // IS NULL can skip the no-null file; IS NOT NULL the all-null one
    val isNull = CommitLog.prunedLiveFiles(spark, t, col("s").isNull)
    val notNull = CommitLog.prunedLiveFiles(spark, t, col("s").isNotNull)
    assert(isNull.size == 1 && notNull.size == 1 && isNull != notNull)
    assert(CommitLog.readWhere(spark, t, col("s").isNull)
      .select("id").as[Long].collect().toSet == Set(3L, 4L))
    // equality on the all-null column's file: min/max are null → kept
    assert(CommitLog.readWhere(spark, t, col("s") === "a").count() == 1)
  }

  test("OPTIMIZE recomputes stats: the clustered layout is prunable end to end") {
    // the zorder->skipping loop closed: a table appended WITHOUT stats,
    // then clustered by a key via compactClustered, must serve pruned
    // reads — the rewrite recomputes per-file stats (Delta's OPTIMIZE
    // behavior); before round 15 the rewrite dropped them and the
    // layout built FOR skipping could never skip
    val t = tmpTable()
    CommitLog.append(spark, t, (0L until 40L).map(i => (i, s"s$i")).toDF("id", "s"))
    assert(CommitLog.prunedLiveFiles(spark, t, col("id") === 7L).size ==
      CommitLog.liveFiles(t, 0L).size, "stats-less appends cannot prune")
    assert(CommitLog.compactClustered(spark, t, df => df("id"), 4).isRight)
    val head = CommitLog.latestVersion(t)
    assert(CommitLog.liveFiles(t, head).size == 4)
    val kept = CommitLog.prunedLiveFiles(spark, t, col("id") === 7L)
    assert(kept.size == 1, s"the clustered rewrite must prune to one file: $kept")
    assert(CommitLog.readWhere(spark, t, col("id") === 7L)
      .select("s").as[String].collect().toSeq == Seq("s7"))
    // plain compaction keeps the table prunable too
    assert(CommitLog.compact(spark, t, targetFiles = 2).isRight)
    val kept2 = CommitLog.prunedLiveFiles(spark, t, col("id") === 7L)
    assert(kept2.size <= 2)
  }

  // ------------------------------------------- round 15: shallow clone

  private def cloned(): (String, String) = {
    val root = Files.createTempDirectory("graft_clone")
    val src = root.resolve("src").toString
    val tgt = root.resolve("tgt").toString
    CommitLog.append(spark, src, (0L until 10L).map(i => (i, s"s$i")).toDF("id", "s"))
    CommitLog.shallowClone(src, tgt)
    (src, tgt)
  }

  test("shallow clone: zero-copy snapshot isolation, writes diverge both ways") {
    val (src, tgt) = cloned()
    // zero-copy: no parquet landed in the clone dir
    val s0 = Files.list(java.nio.file.Paths.get(tgt))
    val copied = try s0.iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) finally s0.close()
    assert(copied == 0)
    assert(CommitLog.read(spark, tgt).count() == 10)
    // source moves — the clone's snapshot doesn't
    CommitLog.append(spark, src, Seq((100L, "x")).toDF("id", "s"))
    assert(CommitLog.read(spark, tgt).count() == 10)
    // clone moves — the source doesn't
    CommitLog.append(spark, tgt, Seq((200L, "y")).toDF("id", "s"))
    assert(CommitLog.read(spark, tgt).count() == 11)
    assert(CommitLog.read(spark, src).count() == 11) // 10 + its own append
    assert(CommitLog.read(spark, src).filter(col("id") === 200L).count() == 0)
    // stats rode the external references: skipping works on the clone
    intercept[IllegalArgumentException] {
      CommitLog.shallowClone(src, tgt) // target exists — loud
    }
  }

  test("shallow clone: DML on the clone rewrites locally, never the source file") {
    val (src, tgt) = cloned()
    val srcFiles = CommitLog.liveFiles(src, 0L)
      .map(f => java.nio.file.Paths.get(src, f))
    assert(CommitLog.deleteWhere(spark, tgt, col("id") % 2 === 0).isRight)
    // the clone sees the delete; the source is bit-for-bit untouched
    assert(CommitLog.read(spark, tgt).select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L, 7L, 9L))
    assert(CommitLog.read(spark, src).count() == 10)
    srcFiles.foreach(p => assert(Files.exists(p), s"clone DML deleted source $p"))
    // and the clone's vacuum never lists the external refs as deletable
    assert(CommitLog.vacuum(tgt, retainVersions = 1L)
      .forall(!_.contains("/")), "vacuum must never touch external refs")
    srcFiles.foreach(p => assert(Files.exists(p)))
  }

  test("shallow clone: the Delta-documented limitation — a source vacuum breaks the clone loudly") {
    val (src, tgt) = cloned()
    // rewrite the source so its original files leave the retention window
    assert(CommitLog.deleteWhere(spark, src, col("id") >= 0L).isRight)
    val swept = CommitLog.vacuum(src, retainVersions = 1L)
    assert(swept.nonEmpty, "fixture: the source rewrite must free v0's files")
    // the clone still references them: reads fail LOUDLY, never silently
    // partial (the pre-horizon time-travel contract, across tables)
    intercept[Throwable] {
      CommitLog.read(spark, tgt).count()
    }
  }

  // -------------------- round 16: bounded string stats + ts stats + cts cp

  test("string stats are prefix-bounded: O(1) action lines, truncated-boundary probes stay sound") {
    val t = tmpTable()
    // 30 long-text docs (~10 KB each), disjoint prefix ranges per file —
    // the r15 weak finding's exact corpus shape (a documents-class table)
    val docs = (0L until 30L)
      .map(i => (i, f"t$i%02d-" + ("x" * 10000)))
      .toDF("id", "text")
      .repartitionByRange(3, col("id")).sortWithinPartitions("id")
    CommitLog.appendWithStats(spark, t, docs)
    // the add actions must NOT embed document texts: every commit line is
    // O(1) regardless of the 10 KB values
    val lines = Files.readAllLines(
      java.nio.file.Paths.get(t, "_graft_log", f"${0L}%020d.json")).asScala
    lines.foreach(l => assert(l.length < 600,
      s"stats action embeds unbounded text (${l.length} chars): ${l.take(120)}…"))
    // equality probe at a FULL long value (way past the 32-cp prefix):
    // its file is KEPT — truncation preserves necessity
    val v12 = "t12-" + ("x" * 10000)
    val kept = CommitLog.prunedLiveFiles(spark, t, col("text") === v12)
    assert(kept.size < 3, s"disjoint text ranges must prune: $kept")
    assert(CommitLog.readWhere(spark, t, col("text") === v12)
      .select("id").as[Long].collect().toSeq == Seq(12L))
    // a probe ABOVE every incremented bound prunes everything
    assert(CommitLog.prunedLiveFiles(spark, t, col("text") === "zz").isEmpty)
  }

  test("string stats: the truncated-boundary probe keeps the file; the incremented bound prunes just past it") {
    val t = tmpTable()
    // one file whose every text shares a 40-char 'a' prefix: true max
    // starts with a*40, stats max = a*31 + 'b' (32-cp prefix, last cp
    // incremented)
    CommitLog.appendWithStats(spark, t,
      Seq((1L, "a" * 40 + "p"), (2L, "a" * 40 + "q")).toDF("id", "text")
        .repartition(1))
    // a probe extending the truncated prefix is INSIDE the bound: kept
    assert(CommitLog.prunedLiveFiles(spark, t,
      col("text") === ("a" * 40 + "q")).size == 1)
    // a probe just past the incremented bound: pruned
    assert(CommitLog.prunedLiveFiles(spark, t,
      col("text") === ("a" * 31 + "c")).isEmpty)
    // and the increment walks code points correctly
    assert(CommitLog.incrementedPrefix("a" * 40).contains("a" * 31 + "b"))
    assert(CommitLog.incrementedPrefix("ab").contains("ac"),
      "the last code point increments")
    // surrogate gap: U+D7FF + 1 jumps to U+E000 (a lone surrogate would
    // not round-trip UTF-8)
    assert(CommitLog.incrementedPrefix("x" * 32 + "tail").contains("x" * 31 + "y"))
    val atGap = "q" * 31 + "\ud7ff" + "tail"
    assert(CommitLog.incrementedPrefix(atGap).contains("q" * 31 + "\ue000"))
    // all-U+10FFFF: no sound bound exists — None, and the writer emits a
    // NULL max (never prunes, never mis-prunes)
    val top = new String(Array.fill(33)(0x10FFFF), 0, 33)
    assert(CommitLog.incrementedPrefix(top).isEmpty)
    val t2 = tmpTable()
    CommitLog.appendWithStats(spark, t2,
      Seq((1L, top)).toDF("id", "text").repartition(1))
    // a probe ABOVE the file's min with a NULL (boundless) max: the max
    // side is unknown → keep (a below-min probe still prunes on min —
    // that side stays exact)
    val bigProbe = new String(Array.fill(40)(0x10FFFF), 0, 40)
    assert(CommitLog.prunedLiveFiles(spark, t2,
      col("text") === bigProbe).size == 1,
      "a boundless max must coalesce to keep")
    assert(CommitLog.prunedLiveFiles(spark, t2,
      col("text") === "below-min").isEmpty)
  }

  test("timestamp stats: epoch-micros encoding, a time-band probe prunes and reads exactly") {
    val t = tmpTable()
    // 30 rows, one per second, range-clustered into 3 disjoint time files
    val rows = spark.range(30)
      .select(col("id"), expr("timestamp_micros(id * 1000000)").as("ts"))
      .repartitionByRange(3, col("ts")).sortWithinPartitions("ts")
    CommitLog.appendWithStats(spark, t, rows)
    val cond = col("ts") >= expr("timestamp_micros(10000000)") &&
      col("ts") <= expr("timestamp_micros(14000000)")
    val kept = CommitLog.prunedLiveFiles(spark, t, cond)
    assert(kept.size < 3, s"a time band over a clustered layout must prune: $kept")
    assert(CommitLog.readWhere(spark, t, cond)
      .select("id").as[Long].collect().sorted.toSeq == (10L to 14L).toSeq)
    // string-literal probes fold through the analyzer's cast to the same
    // micros (session UTC)
    val condStr = col("ts") === lit("1970-01-01 00:00:12").cast("timestamp")
    assert(CommitLog.prunedLiveFiles(spark, t, condStr).size == 1)
    assert(CommitLog.readWhere(spark, t, condStr)
      .select("id").as[Long].collect().toSeq == Seq(12L))
  }

  test("cts folds into v2 checkpoints: timestamp travel works with pre-checkpoint commits GONE; below-cp probes fail with the targeted bound") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"), ctsMillis = Some(100L))
    CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"), ctsMillis = Some(300L))
    CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"), ctsMillis = Some(200L))
    CommitLog.checkpoint(t) // at v2; folded cts running-max = 300
    CommitLog.append(spark, t, Seq((4L, "d")).toDF("id", "s"), ctsMillis = Some(400L))
    // physically exile every pre-checkpoint commit file (the strong r14
    // spec pattern): resolution at-or-after the checkpoint's cts must
    // still answer, reading ONLY the suffix
    (0L to 2L).foreach { v =>
      Files.delete(java.nio.file.Paths.get(t, "_graft_log", f"$v%020d.json"))
    }
    assert(CommitLog.versionAtTimestamp(t, 300L) == 2L)
    assert(CommitLog.versionAtTimestamp(t, 350L) == 2L)
    assert(CommitLog.versionAtTimestamp(t, 400L) == 3L)
    // a probe BELOW the checkpoint's cts needs the retired history: loud,
    // targeted — never a raw NoSuchFileException (r15 advice)
    val e = intercept[IllegalStateException] {
      CommitLog.versionAtTimestamp(t, 250L)
    }
    assert(e.getMessage.contains("retired"), e.getMessage)
  }

  test("DML collision guard fires only on TARGETED basenames (r15 advice): unrelated rewrites still work") {
    // a collided live set (a clone chain plus an unlucky staged name):
    // DML touching only 'y' proceeds; DML touching the ambiguous 'x'
    // fails loudly
    val live = Seq("../src/x.parquet", "x.parquet", "y.parquet")
    assert(CommitLog.affectedOf(live, Set("file:///tmp/t/y.parquet")) ==
      Seq("y.parquet"))
    intercept[IllegalStateException] {
      CommitLog.affectedOf(live, Set("file:///tmp/t/x.parquet"))
    }
  }

  // ------------------------------- round 16: deletion vectors (merge-on-read)

  private def dvTable(): String = {
    val t = tmpTable()
    CommitLog.append(spark, t,
      (0L until 40L).map(i => (i, s"s$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    t
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("deletion vectors: a scattered DELETE moves ZERO data files; reads drop exactly the marked rows") {
    val t = dvTable()
    val before = CommitLog.liveFiles(t, 0L)
    assert(before.size == 4)
    assert(CommitLog.deleteWhereDv(spark, t, col("id") % 7 === 0L) == Right(1L))
    // merge-on-read: the live DATA file set is bit-identical — only dv
    // sidecars were written (the economics the verb exists for)
    assert(CommitLog.liveFiles(t, 1L) == before,
      "a DV delete must not rewrite or remove any data file")
    before.foreach(f => assert(Files.exists(java.nio.file.Paths.get(t, f))))
    assert(ids(CommitLog.read(spark, t)) ==
      (0L until 40L).filterNot(_ % 7 == 0).toSet)
    // snapshot isolation: the pre-delete version still reads every row
    assert(ids(CommitLog.read(spark, t, Some(0L))) == (0L until 40L).toSet)
    // a predicate matching nothing commits NOTHING
    assert(CommitLog.deleteWhereDv(spark, t, col("id") > 1000L) == Right(1L))
    assert(CommitLog.latestVersion(t) == 1L)
  }

  test("deletion vectors: re-delete MERGES (supersedes the old sidecar); rows never match twice") {
    val t = dvTable()
    CommitLog.deleteWhereDv(spark, t, col("id") % 7 === 0L)
    val firstDvs = CommitLog.liveDvs(t, 1L)
    assert(CommitLog.deleteWhereDv(spark, t, col("id") % 5 === 0L) == Right(2L))
    assert(ids(CommitLog.read(spark, t)) ==
      (0L until 40L).filterNot(i => i % 7 == 0 || i % 5 == 0).toSet)
    // affected targets' attachments are REPLACED, not stacked
    val secondDvs = CommitLog.liveDvs(t, 2L)
    val touched = secondDvs.keySet.intersect(firstDvs.keySet)
    touched.foreach(k => assert(secondDvs(k) != firstDvs(k),
      s"target $k must point at the superseding sidecar"))
    // and the intermediate version still reads its own dv state
    assert(ids(CommitLog.read(spark, t, Some(1L))) ==
      (0L until 40L).filterNot(_ % 7 == 0).toSet)
  }

  test("deletion vectors: OPTIMIZE rebases them away; checkpoint folds them; CDF sees the deletes") {
    val t = dvTable()
    CommitLog.deleteWhereDv(spark, t, col("id") % 7 === 0L)
    CommitLog.checkpoint(t)
    // fold-through: resolved FROM the checkpoint, reads stay filtered
    assert(ids(CommitLog.read(spark, t)) ==
      (0L until 40L).filterNot(_ % 7 == 0).toSet)
    // CDF: the dv commit emits exactly the deleted keys as deletes
    val changes = CommitLog.tableChanges(spark, t, "id")
      .filter(col("version") === 1L).collect()
    assert(changes.forall(_.getString(2) == "delete"))
    assert(changes.map(_.getLong(0)).toSet ==
      (0L until 40L).filter(_ % 7 == 0).toSet)
    // OPTIMIZE reads DV-applied rows and its rewrite carries no DVs
    assert(CommitLog.compact(spark, t, targetFiles = 2).isRight)
    assert(CommitLog.liveDvs(t, CommitLog.latestVersion(t)).isEmpty,
      "compaction must rebase deletion vectors away")
    assert(ids(CommitLog.read(spark, t)) ==
      (0L until 40L).filterNot(_ % 7 == 0).toSet)
  }

  test("deletion vectors: RESTORE across a DV delete brings the rows back; vacuum sweeps rebased sidecars") {
    val t = dvTable()
    CommitLog.deleteWhereDv(spark, t, col("id") % 7 === 0L) // v1
    assert(CommitLog.restore(t, 0L) == Right(2L))
    assert(ids(CommitLog.read(spark, t)) == (0L until 40L).toSet,
      "restore must clear the DV state the target version lacked")
    // roll FORWARD again: restore to the DV'd version re-attaches it
    assert(CommitLog.restore(t, 1L) == Right(3L))
    assert(ids(CommitLog.read(spark, t)) ==
      (0L until 40L).filterNot(_ % 7 == 0).toSet)
    // vacuum: with every snapshot retained the sidecar survives; after
    // retention passes the un-DV'd head (v2-equivalent via restore 0),
    // the sidecar is retired
    val dvFile = CommitLog.liveDvs(t, 3L).values.head
    assert(Files.exists(java.nio.file.Paths.get(t, dvFile)))
    CommitLog.restore(t, 0L) // v4: head reads all rows, no DVs
    val swept = CommitLog.vacuum(t, retainVersions = 1L)
    assert(swept.contains(dvFile),
      s"the rebased sidecar must be vacuumable: $swept")
    assert(ids(CommitLog.read(spark, t)) == (0L until 40L).toSet)
  }

  test("deletion vectors: copy-on-write DML on a DV'd file never resurrects its deleted rows") {
    val t = dvTable()
    CommitLog.deleteWhereDv(spark, t, col("id") === 3L) // v1: DV on file 0
    // a copy-on-write DELETE touching the same file must keep 3 gone
    assert(CommitLog.deleteWhere(spark, t, col("id") === 5L).isRight)
    assert(ids(CommitLog.read(spark, t)) ==
      (0L until 40L).filterNot(i => i == 3L || i == 5L).toSet)
    // and UPDATE on a DV'd file carries only live rows through
    val t2 = dvTable()
    CommitLog.deleteWhereDv(spark, t2, col("id") === 3L)
    assert(CommitLog.updateWhere(spark, t2, col("id") === 4L,
      Seq("s" -> lit("upd"))).isRight)
    assert(ids(CommitLog.read(spark, t2)) ==
      (0L until 40L).filterNot(_ == 3L).toSet)
  }

  test("deletion vectors x data skipping: stats stay a sound superset; pruning never resurrects or loses rows") {
    val t = tmpTable()
    CommitLog.appendWithStats(spark, t,
      (0L until 30L).map(i => (i, s"s$i")).toDF("id", "s")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"))
    // DV-delete an entire band the middle file holds: its STATS still
    // describe the pre-delete superset, so an equality probe into the
    // band keeps the file (sound, merely less tight) — and the read
    // correctly returns nothing
    CommitLog.deleteWhereDv(spark, t, col("id") >= 10L && col("id") <= 14L)
    val kept = CommitLog.prunedLiveFiles(spark, t, col("id") === 12L)
    assert(kept.size == 1, s"superset stats must keep the file: $kept")
    assert(CommitLog.readWhere(spark, t, col("id") === 12L).count() == 0,
      "the DV applies on top of pruning")
    assert(CommitLog.readWhere(spark, t, col("id") === 20L)
      .select("id").as[Long].collect().toSeq == Seq(20L))
    // OPTIMIZE recomputes stats over the LIVE rows: the band tightens
    // and the probe now prunes everything
    assert(CommitLog.compact(spark, t, targetFiles = 3).isRight)
    assert(CommitLog.readWhere(spark, t, col("id") === 12L).count() == 0)
    assert(CommitLog.read(spark, t).count() == 25)
  }

  test("deletion vectors: shallow clone carries them; incremental source fails loudly across one") {
    val root = Files.createTempDirectory("graft_dv_clone")
    val src = root.resolve("src").toString
    val tgt = root.resolve("tgt").toString
    CommitLog.append(spark, src,
      (0L until 20L).map(i => (i, s"s$i")).toDF("id", "s").repartition(2))
    CommitLog.deleteWhereDv(spark, src, col("id") % 3 === 0L)
    CommitLog.shallowClone(src, tgt)
    assert(ids(CommitLog.read(spark, tgt)) ==
      (0L until 20L).filterNot(_ % 3 == 0).toSet,
      "a clone must not resurrect merge-on-read deletes")
    // the incremental source treats a dv commit like a rewrite: loud
    val t = dvTable()
    CommitLog.deleteWhereDv(spark, t, col("id") === 0L)
    intercept[IllegalArgumentException] {
      CommitLog.readIncremental(spark, t, -1L)
    }
  }

  // ---------------------------- round 17: merge-on-read UPDATE (updateWhereDv)

  private def idS(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("merge-on-read UPDATE: zero files rewritten, images append, OLD-row semantics, no-op commits nothing") {
    val t = dvTable()
    val before = CommitLog.liveFiles(t, 0L)
    assert(CommitLog.updateWhereDv(spark, t, col("id") % 7 === 0L,
      Seq("s" -> concat(lit("u"), col("id").cast("string")))) == Right(1L))
    // every original data file survives; only image files were added
    val live1 = CommitLog.liveFiles(t, 1L)
    assert(before.forall(live1.contains),
      "a DV update must not rewrite or remove any data file")
    assert(live1.size > before.size, "the updated images must append")
    before.foreach(f => assert(Files.exists(java.nio.file.Paths.get(t, f))))
    // OLD-row semantics visible in the value; every key present exactly once
    assert(idS(CommitLog.read(spark, t)) ==
      (0L until 40L).map(i => (i, if (i % 7 == 0) s"u$i" else s"s$i")).toSet)
    assert(CommitLog.read(spark, t).count() == 40L)
    // snapshot isolation
    assert(idS(CommitLog.read(spark, t, Some(0L))) ==
      (0L until 40L).map(i => (i, s"s$i")).toSet)
    // a predicate matching nothing commits NOTHING
    assert(CommitLog.updateWhereDv(spark, t, col("id") > 1000L,
      Seq("s" -> lit("x"))) == Right(1L))
    assert(CommitLog.latestVersion(t) == 1L)
  }

  test("merge-on-read UPDATE: re-update merges (rows never double); OPTIMIZE rebases; RESTORE both directions; CDF sees updates; constraints enforce") {
    val t = dvTable()
    CommitLog.updateWhereDv(spark, t, col("id") % 7 === 0L, Seq("s" -> lit("u1")))
    // the %14 rows now live in IMAGE files — the re-update DVs those too
    assert(CommitLog.updateWhereDv(spark, t, col("id") % 14 === 0L,
      Seq("s" -> lit("u2"))) == Right(2L))
    assert(CommitLog.read(spark, t).count() == 40L, "rows must never double")
    assert(idS(CommitLog.read(spark, t)) == (0L until 40L).map { i =>
      (i, if (i % 14 == 0) "u2" else if (i % 7 == 0) "u1" else s"s$i")
    }.toSet)
    // CDF: the v1 commit reads as per-key UPDATES for exactly the matched keys
    val ch = CommitLog.tableChanges(spark, t, "id")
      .filter(col("version") === 1L).collect()
    assert(ch.forall(_.getString(2) == "update"), "DV update must read as updates")
    assert(ch.map(_.getLong(0)).toSet == (0L until 40L).filter(_ % 7 == 0).toSet)
    // OPTIMIZE rebases the whole DV state away, content-identical
    assert(CommitLog.compact(spark, t, targetFiles = 2).isRight)
    assert(CommitLog.liveDvs(t, CommitLog.latestVersion(t)).isEmpty)
    assert(CommitLog.read(spark, t).count() == 40L)
    // RESTORE back across both updates, then forward again
    assert(CommitLog.restore(t, 0L).isRight)
    assert(idS(CommitLog.read(spark, t)) ==
      (0L until 40L).map(i => (i, s"s$i")).toSet)
    assert(CommitLog.restore(t, 2L).isRight)
    assert(idS(CommitLog.read(spark, t)) == (0L until 40L).map { i =>
      (i, if (i % 14 == 0) "u2" else if (i % 7 == 0) "u1" else s"s$i")
    }.toSet)
    // the staged images pass CHECK constraints like any append
    val t2 = tmpTable()
    CommitLog.append(spark, t2, Seq((1L, 5L)).toDF("id", "v"))
    CommitLog.addConstraint(spark, t2, "v_pos", "v > 0")
    intercept[IllegalStateException] {
      CommitLog.updateWhereDv(spark, t2, col("id") === 1L, Seq("v" -> lit(-1L)))
    }
    // and the incremental source fails loudly across a DV-update commit
    val t3 = dvTable()
    CommitLog.updateWhereDv(spark, t3, col("id") === 0L, Seq("s" -> lit("x")))
    intercept[IllegalArgumentException] {
      CommitLog.readIncremental(spark, t3, -1L)
    }
  }

  test("versionOfTxn: one-file-per-step backward walk finds the carrying commit") {
    val t = tmpTable()
    CommitLog.appendIdempotent(spark, t, Seq((1L, "a")).toDF("id", "s"), "app", 0L)
    CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    CommitLog.appendIdempotent(spark, t, Seq((3L, "c")).toDF("id", "s"), "app", 1L)
    assert(CommitLog.versionOfTxn(t, "app", 0L).contains(0L))
    assert(CommitLog.versionOfTxn(t, "app", 1L).contains(2L))
    assert(CommitLog.versionOfTxn(t, "app", 7L).isEmpty)
    assert(CommitLog.versionOfTxn(t, "ghost", 0L).isEmpty)
  }

  // --------------------------------- round 17: write-time CHECK constraints

  test("CHECK constraints: add validates existing rows; writes enforce; drop re-opens; census is loud") {
    val t = tmpTable()
    CommitLog.append(spark, t, (0L until 20L).map(i => (i, i * 10L)).toDF("id", "v"))
    // existing rows violate -> rejected, nothing committed
    intercept[IllegalStateException] {
      CommitLog.addConstraint(spark, t, "v_neg", "v < 0")
    }
    assert(CommitLog.latestVersion(t) == 0L)
    assert(CommitLog.addConstraint(spark, t, "v_nonneg", "v >= 0") == Right(1L))
    assert(CommitLog.constraintsAt(t) == Map("v_nonneg" -> "v >= 0"))
    // duplicate name / unknown drop: loud
    intercept[IllegalArgumentException] {
      CommitLog.addConstraint(spark, t, "v_nonneg", "v >= 1")
    }
    intercept[IllegalArgumentException] { CommitLog.dropConstraint(t, "ghost") }
    // conforming append lands; violating append rejected with the census
    CommitLog.append(spark, t, Seq((100L, 5L)).toDF("id", "v"))
    val e = intercept[IllegalStateException] {
      CommitLog.append(spark, t, Seq((101L, -1L), (102L, 3L), (103L, -7L)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("v_nonneg") && e.getMessage.contains("2 row(s)"),
      s"census must name the constraint and count: ${e.getMessage}")
    assert(CommitLog.latestVersion(t) == 2L)
    assert(CommitLog.orphanFiles(t, 0L).isEmpty, "validation precedes staging")
    // the idempotent sink path enforces too
    intercept[IllegalStateException] {
      CommitLog.appendIdempotent(spark, t, Seq((104L, -2L)).toDF("id", "v"), "app", 0L)
    }
    // NULL passes (SQL CHECK semantics)
    CommitLog.append(spark, t,
      Seq((105L, Some(7L)), (106L, None)).toDF("id", "v"))
    // an UPDATE manufacturing a violation is rejected; a clean one lands
    intercept[IllegalStateException] {
      CommitLog.updateWhere(spark, t, col("id") === 100L, Seq("v" -> lit(-9L)))
    }
    assert(CommitLog.updateWhere(spark, t, col("id") === 100L,
      Seq("v" -> lit(9L))).isRight)
    // drop re-opens the gate
    assert(CommitLog.dropConstraint(t, "v_nonneg").isRight)
    CommitLog.append(spark, t, Seq((107L, -1L)).toDF("id", "v"))
    assert(CommitLog.read(spark, t).filter(col("v") < 0).count() == 1L)
  }

  test("CHECK constraints fold through v2 checkpoints and survive RESTORE; clones inherit them") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, 5L)).toDF("id", "v"))
    CommitLog.addConstraint(spark, t, "v_pos", "v > 0")
    CommitLog.append(spark, t, Seq((2L, 6L)).toDF("id", "v"))
    CommitLog.checkpoint(t)
    // enforcement answers FROM the checkpoint — pre-checkpoint commits
    // physically exiled (the strong fold proof, the schema/txn precedent;
    // the checkpoint version's own commit stays — retention never trims
    // the head)
    val log = java.nio.file.Paths.get(t, "_graft_log")
    (0L to 1L).foreach(v =>
      Files.delete(log.resolve(f"$v%020d.json")))
    assert(CommitLog.constraintsAt(t) == Map("v_pos" -> "v > 0"))
    intercept[IllegalStateException] {
      CommitLog.append(spark, t, Seq((3L, -1L)).toDF("id", "v"))
    }
    // RESTORE rolls file state, not table invariants: the constraint
    // stays live across it
    CommitLog.append(spark, t, Seq((4L, 8L)).toDF("id", "v"))
    val head = CommitLog.latestVersion(t)
    assert(CommitLog.restore(t, head - 1).isRight)
    intercept[IllegalStateException] {
      CommitLog.append(spark, t, Seq((5L, -2L)).toDF("id", "v"))
    }
    // a shallow clone inherits enforcement with the snapshot
    val tgt = tmpTable() + "_clone"
    CommitLog.shallowClone(t, tgt)
    assert(CommitLog.constraintsAt(tgt) == Map("v_pos" -> "v > 0"))
    intercept[IllegalStateException] {
      CommitLog.append(spark, tgt, Seq((6L, -3L)).toDF("id", "v"))
    }
  }

  test("CHECK constraints x schema evolution: rename/drop refuse to orphan a constraint") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, 5L, "a")).toDF("id", "v", "s"))
    CommitLog.addConstraint(spark, t, "v_pos", "v > 0")
    intercept[IllegalArgumentException] {
      CommitLog.dropColumn(spark, t, "v")
    }
    intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, t, "v", "val")
    }
    // unrelated evolution still works; after the drop, so does the rename
    assert(CommitLog.dropColumn(spark, t, "s").isRight)
    assert(CommitLog.dropConstraint(t, "v_pos").isRight)
    assert(CommitLog.renameColumn(spark, t, "v", "val").isRight)
    assert(CommitLog.read(spark, t).columns.toSeq == Seq("id", "val"))
  }

  test("versionOfTxn: retired history answers None, never a raw missing-file crash (r16 advice)") {
    val t = tmpTable()
    CommitLog.appendIdempotent(spark, t, Seq((1L, "a")).toDF("id", "s"), "app", 0L)
    CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    // retention only ever trims BELOW a checkpoint (the txnLatest floor);
    // write it first, then physically retire the genesis commit — the
    // log-retention analog the scaladoc promises None for
    CommitLog.checkpoint(t, 2L)
    Files.delete(java.nio.file.Paths.get(t, "_graft_log",
      f"${0L}%020d.json"))
    assert(CommitLog.versionOfTxn(t, "app", 0L).isEmpty,
      "a walk into retired history must return None (watermark's word is final)")
    // a txn that DOES live in surviving history still resolves
    CommitLog.appendIdempotent(spark, t, Seq((4L, "d")).toDF("id", "s"), "app", 1L)
    assert(CommitLog.versionOfTxn(t, "app", 1L).contains(3L))
  }

  test("orphan sweep covers leaked dv sidecars; committed sidecars never swept (r16 advice)") {
    val t = dvTable()
    CommitLog.deleteWhereDv(spark, t, col("id") % 7 === 0L)
    val liveDv = CommitLog.liveDvs(t, 1L).values.toSet
    assert(liveDv.nonEmpty)
    // a crash between stageDv and tryCommit leaves an unreferenced
    // sidecar: simulate one with the stage name shape
    val leaked = "deadbeef-dv-00000.parquet"
    Files.write(java.nio.file.Paths.get(t, leaked), Array[Byte](1, 2, 3))
    val orphans = CommitLog.orphanFiles(t, minAgeMs = 0L)
    assert(orphans.contains(leaked), s"leaked dv sidecar must be sweepable: $orphans")
    assert(liveDv.forall(!orphans.contains(_)),
      "commit-referenced dv sidecars are never orphans")
    CommitLog.vacuum(t, retainVersions = 10L, orphanMinAgeMs = 0L)
    assert(!Files.exists(java.nio.file.Paths.get(t, leaked)))
    // the swept table still reads exactly its dv-filtered rows
    assert(ids(CommitLog.read(spark, t)) ==
      (0L until 40L).filterNot(_ % 7 == 0).toSet)
  }

  test("DV delete on a collided live set: a TARGETED shared basename fails loudly (r16 advice)") {
    val t = tmpTable()
    CommitLog.append(spark, t,
      Seq((1L, "a"), (8L, "b")).toDF("id", "s").repartition(1))
    val local = CommitLog.liveFiles(t, 0L).head
    // manufacture the collision: an external reference sharing the local
    // file's basename (the clone-chain shape affectedOf guards against)
    val sub = java.nio.file.Paths.get(t, "sub")
    Files.createDirectories(sub)
    Files.copy(java.nio.file.Paths.get(t, local), sub.resolve(local))
    assert(CommitLog.tryCommit(t, 1L, Seq(CommitLog.Add(s"sub/$local"))))
    intercept[IllegalStateException] {
      CommitLog.deleteWhereDv(spark, t, col("id") === 1L)
    }
  }

  test("readPruned: necessary-condition file cut — superset of readWhere, identical after the residual filter") {
    val t = tmpTable()
    CommitLog.appendWithStats(spark, t,
      (0L until 80L).map(i => (i, s"s$i")).toDF("id", "s")
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"))
    val cond = (col("id") >= 11L && col("id") <= 13L) ||
      (col("id") >= 71L && col("id") <= 73L)
    val pruned = ids(CommitLog.readPruned(spark, t, cond))
    val exact = ids(CommitLog.readWhere(spark, t, cond))
    assert(exact == Set(11L, 12L, 13L, 71L, 72L, 73L))
    assert(exact.subsetOf(pruned), "readPruned must be a superset")
    assert(pruned.size < 80, "the file cut must actually prune")
    assert(ids(CommitLog.readPruned(spark, t, cond).filter(cond)) == exact,
      "readPruned + residual filter must equal readWhere row-for-row")
    // a many-band OR (the maintainer's probe shape) stays a metadata
    // decision — BALANCED tree (depth log n, a 512-deep left chain
    // overflows the column-conversion stack), still a sound superset
    val wide = ids(CommitLog.readPruned(spark, t,
      CommitLog.balancedOr((0 until 400).map { i =>
        val lo = i.toLong * 1000L
        col("id") >= lo && col("id") <= lo + 1L
      })))
    assert(Set(0L, 1L).subsetOf(wide))
  }

  test("mergeInto: matched rows take the source image, unmatched insert, match-free files survive; duplicate targets stay duplicated") {
    val t = tmpTable()
    // v0 holds ids 1-4 with id 2 DUPLICATED (two target rows, one key);
    // v1 holds 5-6 — no v1 key is in the source, so v1's file must
    // survive the merge on disk (the file-granular contract)
    CommitLog.append(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L), (2L, "b2", 21L), (3L, "c", 30L),
        (4L, "d", 40L)).toDF("id", "s", "n"))
    val v1 = CommitLog.append(spark, t,
      Seq((5L, "e", 50L), (6L, "f", 60L)).toDF("id", "s", "n"))
    val v1Files = CommitLog.commits(t, v1).last.adds.toSet
    val src = Seq((2L, "X", 200L), (10L, "new", 100L)).toDF("id", "s", "n")
    val v2 = CommitLog.mergeInto(spark, t, src, "id") match {
      case Right(v) => v
      case Left(c) => fail(s"unexpected conflict: $c")
    }
    val rows = CommitLog.read(spark, t, Some(v2))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(rows.toSeq == Seq((1L, "a", 10L), (2L, "X", 200L), (2L, "X", 200L),
      (3L, "c", 30L), (4L, "d", 40L), (5L, "e", 50L), (6L, "f", 60L),
      (10L, "new", 100L)),
      s"merge image mismatch: ${rows.mkString(";")}")
    val live = CommitLog.liveFiles(t, v2).toSet
    assert(v1Files.subsetOf(live), "match-free file rewritten by the merge")
    // older versions untouched (snapshot isolation across the merge)
    assert(CommitLog.read(spark, t, Some(v1)).count() == 7)
  }

  test("mergeInto: duplicate SOURCE keys fail loudly; empty source no-ops; all-insert path on a live-empty table") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    intercept[IllegalArgumentException] {
      CommitLog.mergeInto(spark, t,
        Seq((7L, "x"), (7L, "y")).toDF("id", "s"), "id")
    }
    val head = CommitLog.latestVersion(t)
    assert(CommitLog.mergeInto(spark, t,
      Seq.empty[(Long, String)].toDF("id", "s"), "id") == Right(head),
      "empty source must not commit")
    // drain the table to zero live rows: merge then inserts everything
    CommitLog.deleteWhere(spark, t, col("id") >= 0L)
    val r = CommitLog.mergeInto(spark, t,
      Seq((8L, "ins")).toDF("id", "s"), "id")
    assert(r.isRight)
    assert(CommitLog.read(spark, t).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq == Seq((8L, "ins")))
  }

  test("mergeInto x deletion vectors: a DV-deleted row is NOT matched — the source row inserts once, never resurrects the old image") {
    val t = tmpTable()
    CommitLog.append(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    CommitLog.deleteWhereDv(spark, t, col("id") === 2L)
    val r = CommitLog.mergeInto(spark, t,
      Seq((2L, "reborn")).toDF("id", "s"), "id")
    assert(r.isRight)
    val rows = CommitLog.read(spark, t).collect()
      .map(x => (x.getLong(0), x.getString(1))).sorted
    assert(rows.toSeq == Seq((1L, "a"), (2L, "reborn"), (3L, "c")),
      s"DV'd key must re-enter as a fresh insert exactly once: ${rows.mkString(";")}")
  }

  test("appendPartitioned: every staged file is value-pure; equality pruning is exact; multi-column tuples route correctly") {
    val t = tmpTable()
    val df = (0L until 60L).map(i =>
      (i, s"src${i % 3}", s"lang${i % 2}", i * 10)).toDF("id", "src", "lang", "n")
    val v = CommitLog.appendPartitioned(spark, t, df, Seq("src", "lang"))
    // value purity ON DISK: each live file holds exactly one (src, lang)
    CommitLog.liveFiles(t, v).foreach { f =>
      val one = spark.read.parquet(java.nio.file.Paths.get(t, f).toString)
      assert(one.select("src", "lang").distinct().count() == 1L,
        s"file $f is not partition-value-pure")
      assert(one.columns.toSeq == Seq("id", "src", "lang", "n"),
        "data files must keep the full schema (no dropped partition cols)")
    }
    // exact pruning on the tuple: kept census == the one partition's files,
    // zero non-matching rows in the kept set
    val cond = col("src") === "src1" && col("lang") === "lang0"
    val kept = CommitLog.prunedLiveFiles(spark, t, cond)
    assert(kept.size < CommitLog.liveFiles(t, v).size)
    val pruned = CommitLog.readPruned(spark, t, cond)
    assert(pruned.filter(!cond).isEmpty, "equality pruning must be exact")
    assert(CommitLog.readWhere(spark, t, cond).count() ==
      df.filter(col("src") === "src1" && col("lang") === "lang0").count())
  }

  test("appendPartitioned coexists with plain appends: pruning stays sound, reads stay whole") {
    val t = tmpTable()
    CommitLog.appendPartitioned(spark, t,
      (0L until 20L).map(i => (i, s"p${i % 2}")).toDF("id", "s"), Seq("s"))
    CommitLog.append(spark, t, // stats-less plain files: never pruned
      (20L until 30L).map(i => (i, "p0")).toDF("id", "s"))
    val cond = col("s") === "p0"
    val rows = CommitLog.readWhere(spark, t, cond).collect().map(_.getLong(0)).toSet
    assert(rows == ((0L until 20L).filter(_ % 2 == 0) ++ (20L until 30L)).toSet,
      "a stats-less file must be kept, not lost, by the pruning cut")
    assert(CommitLog.read(spark, t).count() == 30L)
  }

  test("DML match scans are stats-pruned: a predicate-excluded file is never opened (cow and mor verbs)") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val t = tmpTable()
    CommitLog.appendWithStats(spark, t,
      (0L until 80L).map(i => (i, s"s$i")).toDF("id", "s")
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"))
    val cond = col("id") <= 9L
    val head = CommitLog.latestVersion(t)
    val live = CommitLog.liveFiles(t, head)
    val kept = CommitLog.prunedLiveFiles(spark, t, cond).toSet
    assert(kept.size < live.size, "layout must allow a cut")
    // physically EXILE a file the stats exclude: if the match scan read
    // the whole live set, the verb would fail on the missing file — the
    // pruned scan never lists it
    val exiled = live.filterNot(kept.contains).last
    JFiles.move(JPaths.get(t, exiled), JPaths.get(t, exiled + ".bak"))
    val v = CommitLog.deleteWhere(spark, t, cond)
    assert(v.isRight, s"pruned cow scan must not touch $exiled: $v")
    val v2 = CommitLog.updateWhereDv(spark, t, col("id") === 12L,
      Seq("s" -> lit("upd")))
    assert(v2.isRight, s"pruned mor scan must not touch $exiled: $v2")
    JFiles.move(JPaths.get(t, exiled + ".bak"), JPaths.get(t, exiled))
    // with the file back, the table reads whole and both verbs applied
    val ids = CommitLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(ids == (10L until 80L).toSet)
    assert(CommitLog.read(spark, t).filter(col("s") === "upd")
      .collect().map(_.getLong(0)).toSeq == Seq(12L))
  }

  test("generated columns: materialize-if-absent, validate-if-present, loud reject; checkpoint fold and clone inherit") {
    val t = tmpTable()
    CommitLog.append(spark, t,
      Seq((1L, 10L, 1L), (2L, 25L, 2L)).toDF("id", "n", "dec"))
    assert(CommitLog.addGeneratedColumn(spark, t, "dec", "n div 10").isRight)
    // absent => materialized
    CommitLog.append(spark, t, Seq((3L, 37L)).toDF("id", "n"))
    val rows = CommitLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows.toSeq == Seq((1L, 10L, 1L), (2L, 25L, 2L), (3L, 37L, 3L)))
    // present-correct lands; present-wrong rejects un-committed
    CommitLog.append(spark, t, Seq((4L, 44L, 4L)).toDF("id", "n", "dec"))
    val head = CommitLog.latestVersion(t)
    intercept[IllegalStateException] {
      CommitLog.append(spark, t, Seq((5L, 50L, 99L)).toDF("id", "n", "dec"))
    }
    assert(CommitLog.latestVersion(t) == head)
    // fold through a v2 checkpoint: the definition must survive
    CommitLog.checkpoint(t)
    assert(CommitLog.generatedAt(t) == Map("dec" -> "n div 10"))
    intercept[IllegalStateException] {
      CommitLog.append(spark, t, Seq((6L, 60L, 99L)).toDF("id", "n", "dec"))
    }
    // clone inherits the definition
    val c = tmpTable() + "/clone"
    CommitLog.shallowClone(t, c)
    assert(CommitLog.generatedAt(c) == Map("dec" -> "n div 10"))
    // drop re-opens; unknown drop loud
    assert(CommitLog.dropGeneratedColumn(t, "dec").isRight)
    assert(CommitLog.append(spark, t,
      Seq((7L, 70L, 99L)).toDF("id", "n", "dec")) > 0L)
    intercept[IllegalArgumentException] {
      CommitLog.dropGeneratedColumn(t, "nope")
    }
  }

  test("generated columns: add validates existing rows; self-reference refused; UPDATE images validate; rename/drop refuse to orphan") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, 10L, 7L)).toDF("id", "n", "dec"))
    // existing rows disagree -> loud
    intercept[IllegalStateException] {
      CommitLog.addGeneratedColumn(spark, t, "dec", "n div 10")
    }
    val t2 = tmpTable()
    CommitLog.append(spark, t2, Seq((1L, 10L, 1L)).toDF("id", "n", "dec"))
    // a definition that cannot resolve WITHOUT the column is refused
    intercept[IllegalArgumentException] {
      CommitLog.addGeneratedColumn(spark, t2, "dec", "dec + 0")
    }
    assert(CommitLog.addGeneratedColumn(spark, t2, "dec", "n div 10").isRight)
    // an UPDATE that breaks the invariant (SET n without dec) rejects
    intercept[IllegalStateException] {
      CommitLog.updateWhere(spark, t2, col("id") === 1L,
        Seq("n" -> lit(99L)))
    }
    // SET both consistently lands
    assert(CommitLog.updateWhere(spark, t2, col("id") === 1L,
      Seq("n" -> lit(99L), "dec" -> lit(9L))).isRight)
    // rename/drop of either side refuse to orphan the definition
    intercept[IllegalArgumentException] {
      CommitLog.dropColumn(spark, t2, "dec")
    }
    intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, t2, "n", "m")
    }
  }

  test("generated columns x partitioned append: an omitted derived partition column routes value-pure and prunes") {
    val t = tmpTable()
    CommitLog.append(spark, t,
      Seq((1L, 100L, 0L)).toDF("id", "n", "bucket"))
    assert(CommitLog.addGeneratedColumn(spark, t, "bucket", "n div 1000").isRight)
    // writer omits the derived column entirely — the partition router
    // still gets it, and every staged file is value-pure in it
    val v = CommitLog.appendPartitioned(spark, t,
      (0L until 40L).map(i => (10L + i, i * 100L)).toDF("id", "n"),
      Seq("bucket"))
    CommitLog.commits(t, v).last.adds.foreach { f =>
      val one = spark.read.parquet(java.nio.file.Paths.get(t, f).toString)
      assert(one.select("bucket").distinct().count() == 1L)
    }
    val kept = CommitLog.prunedLiveFiles(spark, t, col("bucket") === 2L)
    assert(kept.size < CommitLog.liveFiles(t, CommitLog.latestVersion(t)).size)
    assert(CommitLog.readWhere(spark, t, col("bucket") === 2L).count() ==
      (0L until 40L).count(i => (i * 100L) / 1000L == 2L))
  }

  test("compactWhere: scoped compaction rebases the scope's DVs, keeps others' files and DVs, stays prune-exact") {
    val t = tmpTable()
    CommitLog.appendPartitioned(spark, t,
      (0L until 20L).map(i => (i, s"p${i % 2}")).toDF("id", "s"), Seq("s"))
    CommitLog.appendPartitioned(spark, t,
      (20L until 40L).map(i => (i, s"p${i % 2}")).toDF("id", "s"), Seq("s"))
    // DV one row in EACH partition: the scope's DV must rebase away,
    // the other partition's must survive untouched
    CommitLog.deleteWhereDv(spark, t, col("id") === 0L || col("id") === 1L)
    val head0 = CommitLog.latestVersion(t)
    val p0Before = CommitLog.prunedLiveFiles(spark, t, col("s") === "p0").toSet
    val othersBefore = CommitLog.liveFiles(t, head0).filterNot(p0Before).sorted
    val dvsBefore = CommitLog.liveDvs(t, head0)
    val v = CommitLog.compactWhere(spark, t, col("s") === "p0") match {
      case Right(x) => x
      case Left(c) => fail(s"unexpected conflict: $c")
    }
    val liveAfter = CommitLog.liveFiles(t, v)
    assert(othersBefore == liveAfter.filter(othersBefore.contains).sorted,
      "out-of-scope files must not move")
    val dvsAfter = CommitLog.liveDvs(t, v)
    assert(!dvsAfter.keySet.exists(p0Before.contains),
      "in-scope DVs must rebase away")
    assert(dvsAfter == dvsBefore.filter { case (tg, _) => !p0Before.contains(tg) },
      "out-of-scope DVs must survive untouched")
    // content identity: the two DV'd rows stay deleted, everything else whole
    val ids = CommitLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(ids == (2L until 40L).toSet)
    // the compacted partition is one file and still prune-exact
    val p0After = CommitLog.prunedLiveFiles(spark, t, col("s") === "p0")
    assert(p0After.size == 1, s"scope must collapse to one file: $p0After")
    assert(CommitLog.readPruned(spark, t, col("s") === "p0")
      .filter(col("s") =!= "p0").isEmpty, "recomputed stats stay exact")
    // nothing-selected no-ops without committing
    assert(CommitLog.compactWhere(spark, t, col("s") === "zz") == Right(v))
  }

  test("mergeInto: staged images pass CHECK constraints like any write") {
    val t = tmpTable()
    CommitLog.append(spark, t, Seq((1L, 10L)).toDF("id", "n"))
    assert(CommitLog.addConstraint(spark, t, "n_pos", "n > 0").isRight)
    val head = CommitLog.latestVersion(t)
    intercept[IllegalStateException] {
      CommitLog.mergeInto(spark, t, Seq((1L, -5L)).toDF("id", "n"), "id")
    }
    assert(CommitLog.latestVersion(t) == head, "rejected merge must not commit")
    assert(CommitLog.mergeInto(spark, t,
      Seq((1L, 99L)).toDF("id", "n"), "id").isRight)
  }
}
