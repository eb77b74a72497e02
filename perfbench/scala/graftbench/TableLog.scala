package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.io.CommitLog

/** The annotation-tracker lifecycle on one long-lived `graftlog` table:
  * small appends, upsert and DV-merge verifier updates, DV deletes, and
  * periodic compaction and checkpoints, beside latest, time-travel,
  * skipping and change-feed reads. Every read is checked against an
  * in-memory model of the table that each write updates, kept per version.
  *
  * Rows are `(id long, tile int, status int, score long)`; `tile` and the
  * initial `score` are functions of `id` and the seed. */
final class TableLog(ctx: Ctx) extends Workload {
  import ctx.spark

  type Rec = (Int, Int, Long) // tile, status, score
  type Snap = HashMap[Long, Rec]

  // initial versions, above CommitLog's 128-state replay cache (inputs.py)
  val HistoryBatches = 136
  val BatchRows = 200
  val RowBytes = 24L        // 8 + 4 + 4 + 8: the user bytes of one submitted row
  val ReplayCacheEntries = 128
  // time travel targets a version at least this far below the head, and
  // never one an earlier read targeted (see `timeTravelVersion`)
  val TimeTravelDepth = ReplayCacheEntries + 1
  val ChangesWindow = 4     // changes(head - 4, head]
  // a verifier correction is half an append batch and updates rows only,
  // the shape of the tl1 lifecycle (every third order appended, every
  // sixth corrected)
  val CorrectionRows = BatchRows / 2

  private var table: String = _
  private var model: Snap = HashMap.empty
  private val snaps = mutable.Map.empty[Long, Snap]
  // version -> (inserted, deleted) rows, the expected change feed
  private val diffs = mutable.Map.empty[Long, (Seq[(Long, Rec)], Seq[(Long, Rec)])]
  private var nextId = 0L
  private var rng: java.util.Random = _
  private val timeTravelled = mutable.Set.empty[Long]
  private val salt = math.abs(ctx.seed) % 1000003L

  /** Directory bytes gained across write ops, and user bytes submitted. */
  var gainedBytes = 0L
  var userBytes = 0L
  // skipping reads: input bytes read (listener) and live snapshot bytes
  val skipReads = mutable.ArrayBuffer.empty[Int]
  val skipSnapshotBytes = mutable.Map.empty[Int, Long]

  def tileOf(id: Long): Int = ((id * 7919 + salt) % 1000).toInt
  def scoreOf(id: Long): Long = (id * 104729 + salt * 31) % 10000

  private def rows(rs: Seq[(Long, Rec)]): DataFrame = {
    import spark.implicits._
    rs.map { case (id, (t, s, sc)) => (id, t, s, sc) }.toDF("id", "tile", "status", "score")
      .coalesce(1)
  }

  /** Commits the seed's initial batches (written by `inputs.py` under
    * `inputs-<rep>`), one version each, the way an external ingest hands
    * over files, then enables deletion vectors. */
  def prepare(rep: Int): Unit = {
    table = ctx.work.resolve(s"tables-$rep").resolve("tracker").toString
    model = HashMap.empty; snaps.clear(); diffs.clear(); timeTravelled.clear()
    gainedBytes = 0; userBytes = 0
    rng = new java.util.Random(ctx.seed)
    val staged = Files.list(ctx.work.resolve(s"inputs-$rep")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("ingest-")).toSeq.sortBy(_.getFileName.toString)
    require(staged.size == HistoryBatches, s"expected $HistoryBatches history files, got ${staged.size}")
    Files.createDirectories(tableDir)
    staged.zipWithIndex.foreach { case (p, i) =>
      val name = p.getFileName.toString
      Files.move(p, tableDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      CommitLog.txnCommitFiles(table, Seq(name), s"ingest#$i")
      val added = (i.toLong * BatchRows until (i + 1L) * BatchRows).map(id => id -> ((tileOf(id), 0, scoreOf(id))))
      applyWrite(added, Seq.empty)
    }
    nextId = HistoryBatches.toLong * BatchRows
    CommitLog.enableDv(table)
    applyWrite(Seq.empty, Seq.empty)
  }

  private def tableDir: Path = java.nio.file.Paths.get(table)

  /** Advances the model past the commit a write just landed. */
  private def applyWrite(ins: Seq[(Long, Rec)], del: Seq[(Long, Rec)]): Unit = {
    model = model -- del.map(_._1) ++ ins
    val head = CommitLog.currentVersion(table)
    val last = if (snaps.isEmpty) -1L else snaps.keys.max
    require(head > last || (ins.isEmpty && del.isEmpty),
      s"write landed no commit (head $head, model at $last)")
    ((last + 1) to head).foreach { v =>
      snaps(v) = model
      diffs(v) = if (v == head) (ins, del) else (Seq.empty, Seq.empty)
    }
  }

  def warmup(): Unit = {
    // one op of every kind; the warm-up writes stay in the table's
    // history, and the model records them like any other write
    Seq("latest", "time_travel", "skip_scan", "changes").foreach(k => readOp(k).run())
    Seq("append", "upsert", "dv_merge", "dv_delete", "compact", "checkpoint").foreach { k =>
      val op = writeOp(k)
      op.before(); op.run(); op.after()
    }
  }

  /** Every pass runs this sequence of 17 ops. The shares follow the
    * `CommitLog` call sites of the tl* queries in `TableLogQueries` (the
    * table-log family of `graft.Bench`), 112 in all: graftlog loads and
    * `read` 43 (latest), range-filtered loads 4 (skip scan), `versionAsOf`
    * 3 (time travel), `changes`/`changeWindows` 21, `append` /
    * `dedupAppend` / `appendClustered` 23, `upsert`/`txnUpsert` 10,
    * `compact`/`compactZOrdered` 7 (with `targetFiles = 2`), `checkpoint` 1.
    * Scaled to 17 ops, every kind the tracker lifecycle names runs at
    * least once: the upsert share is split between the row-rewrite and
    * the DV form, a DV delete (no tl* call site) is added, and the
    * checkpoint (1 in 112, about one in seven passes) runs in every
    * seventh pass. The seed picks each op's ids, ranges and versions; the
    * order is fixed so that what a change-feed window or a compaction
    * covers does not depend on the seed. */
  val PassOps: Seq[String] = Seq(
    "append", "read_latest", "read_changes", "upsert", "read_latest", "append",
    "read_skip_scan", "read_changes", "dv_merge", "read_latest", "read_time_travel",
    "append", "dv_delete", "read_latest", "read_changes", "compact", "read_latest")
  val CheckpointEvery = 7

  def pass(p: Int): Seq[Op] = {
    val kinds = if ((p + 1) % CheckpointEvery == 0) PassOps :+ "checkpoint" else PassOps
    kinds.map(k => if (k.startsWith("read_")) readOp(k.stripPrefix("read_")) else writeOp(k))
  }

  // ---------------------------------------------------------------- reads
  private def load(asOf: Option[Long]): DataFrame = ctx.spans("sources.load") {
    val r = spark.read.format("graftlog")
    asOf.fold(r)(v => r.option("versionAsOf", v)).load(table)
  }

  private def rowHash(id: Long, r: Rec): Long = {
    var h = XXH64.hashLong(id, 42L)
    h = XXH64.hashInt(r._1, h)
    h = XXH64.hashInt(r._2, h)
    XXH64.hashLong(r._3, h)
  }

  private val rowCols: Seq[Column] = Seq(col("id"), col("tile"), col("status"), col("score"))

  private def expectEq(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new IllegalStateException(s"$what: got $got, model has $want")

  /** A skipping read's base, the live snapshot bytes, is taken before the
    * op is timed. */
  private def readOp(kind: String): Op = Op(s"read_$kind", "read", () => read(kind),
    before = () => if (kind == "skip_scan") {
      skipReads += ctx.spans.op
      skipSnapshotBytes(ctx.spans.op) = CommitLog.snapshotSizeBytes(table)
    })

  private def read(kind: String): Unit = kind match {
    case "latest" =>
      val df = load(None)
      val got = ctx.spans("spark.action") {
        df.groupBy("status").agg(count(lit(1)), sum("score")).collect()
          .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      }
      val want = model.values.groupBy(_._2).map { case (s, rs) => s -> ((rs.size.toLong, rs.map(_._3).sum)) }
      expectEq("latest status aggregate", got, want)
    case "time_travel" =>
      val v = timeTravelVersion()
      val df = load(Some(v))
      val got = ctx.spans("spark.action")(Fingerprint.ofHashes(df.select(xxhash64(rowCols: _*).as("h"))))
      expectEq(s"snapshot at version $v", got, Fingerprint.ofLocal(snaps(v).iterator.map { case (id, r) => rowHash(id, r) }))
    case "skip_scan" =>
      val width = math.max(1L, nextId / 50)
      val lo = (rng.nextDouble() * (nextId - width)).toLong
      val hi = lo + width - 1
      val df = load(None).filter(col("id").between(lo, hi))
      val got = ctx.spans("spark.action")(Fingerprint.ofHashes(df.select(xxhash64(rowCols: _*).as("h"))))
      expectEq(s"ids in [$lo, $hi]", got, Fingerprint.ofLocal(
        model.iterator.filter { case (id, _) => id >= lo && id <= hi }.map { case (id, r) => rowHash(id, r) }))
    case "changes" =>
      val head = CommitLog.currentVersion(table)
      val from = head - ChangesWindow
      val df = ctx.spans("io.changes")(CommitLog.changes(spark, table, from, head))
      val added = col("_change_type").isin("insert", "update_postimage")
      val h = xxhash64(rowCols :+ when(added, 1).otherwise(0) :+ col("_commit_version"): _*)
      val got = ctx.spans("spark.action")(Fingerprint.ofHashes(df.select(h.as("h"))))
      val want = ((from + 1) to head).iterator.flatMap { v =>
        val (ins, del) = diffs(v)
        ins.iterator.map { case (id, r) => XXH64.hashLong(v, XXH64.hashInt(1, rowHash(id, r))) } ++
          del.iterator.map { case (id, r) => XXH64.hashLong(v, XXH64.hashInt(0, rowHash(id, r))) }
      }
      expectEq(s"changes($from, $head]", got, Fingerprint.ofLocal(want))
  }

  /** A seeded version no earlier read targeted, at least
    * `TimeTravelDepth` below the head. Every commit replays the log at its
    * tip, so each later version has put its own state into the replay
    * cache since this one was last replayed: more than the cache holds,
    * so the state was evicted and the read replays it: from version 0
    * while the version lies below the warm-up checkpoint. */
  private def timeTravelVersion(): Long = {
    val head = CommitLog.currentVersion(table)
    val free = (0L to head - TimeTravelDepth).filterNot(timeTravelled)
    require(free.nonEmpty, s"no unread version at least $TimeTravelDepth below head $head")
    val v = free(rng.nextInt(free.size))
    timeTravelled += v
    v
  }

  // ---------------------------------------------------------------- writes
  /** A window of live ids around a seeded position (the verifier works one
    * tile batch at a time, so its updates touch few files). */
  private def liveWindow(n: Int): Seq[(Long, Rec)] = {
    val lo = (rng.nextDouble() * nextId).toLong
    (lo until math.min(nextId, lo + 4L * n)).iterator
      .flatMap(id => model.get(id).map(id -> _)).take(n).toSeq
  }

  /** Bytes compaction wrote, per op index. */
  val compactionBytes = mutable.Map.empty[Int, Long]
  private var sizeBefore = 0L

  /** The directory growth a write caused, measured outside its timing. */
  private def writeOp(kind: String): Op = Op(kind, "write", () => write(kind),
    before = () => sizeBefore = Dirs.size(tableDir)._1,
    after = () => {
      val gained = Dirs.size(tableDir)._1 - sizeBefore
      gainedBytes += gained
      if (kind == "compact") compactionBytes(ctx.spans.op) = gained
    })

  private def write(kind: String): Unit =
    kind match {
      case "append" =>
        val ins = (nextId until nextId + BatchRows).map(id => id -> ((tileOf(id), 0, scoreOf(id))))
        nextId += BatchRows
        userBytes += ins.size * RowBytes
        ctx.spans("io.commit")(CommitLog.append(rows(ins), table))
        applyWrite(ins, Seq.empty)
      case "upsert" =>
        val old = liveWindow(CorrectionRows)
        val upd = old.map { case (id, (t, s, sc)) => id -> ((t, s + 1, sc + 7)) }
        userBytes += upd.size * RowBytes
        if (upd.nonEmpty) {
          ctx.spans("io.commit")(CommitLog.upsert(spark, rows(upd), table, Seq("id")))
          applyWrite(upd, old)
        }
      case "dv_merge" =>
        val old = liveWindow(CorrectionRows)
        val upd = old.map { case (id, (t, s, sc)) => id -> ((t, s + 10, sc)) }
        userBytes += upd.size * RowBytes
        if (upd.nonEmpty) {
          ctx.spans("io.commit")(CommitLog.dvMerge(spark, rows(upd), table, Seq("id")))
          applyWrite(upd, old)
        }
      case "dv_delete" =>
        val lo = (rng.nextDouble() * nextId).toLong
        val hi = lo + 39
        val del = model.iterator.filter { case (id, _) => id >= lo && id <= hi }.toSeq
        val v = ctx.spans("io.commit")(CommitLog.dvDelete(spark, table, col("id").between(lo, hi)))
        if (v.isDefined != del.nonEmpty)
          throw new IllegalStateException(s"dvDelete [$lo, $hi] committed $v, model has ${del.size} rows")
        if (del.nonEmpty) applyWrite(Seq.empty, del)
      case "compact" =>
        ctx.spans("io.compaction")(CommitLog.compact(spark, table, 2))
        applyWrite(Seq.empty, Seq.empty)
      case "checkpoint" =>
        ctx.spans("io.checkpoint")(CommitLog.checkpoint(table))
        applyWrite(Seq.empty, Seq.empty)
    }

  // ---------------------------------------------------------------- state
  override def state(): Map[String, Double] = {
    val t = tableDir
    val log = t.resolve("_log")
    val logFiles = Files.list(log).iterator().asScala.toSeq.filter(Files.isRegularFile(_))
    val top = Files.list(t).iterator().asScala.toSeq.filter(Files.isRegularFile(_)).map(_.getFileName.toString)
    Map(
      "io.log_files" -> logFiles.size.toDouble,
      "io.log_bytes" -> logFiles.map(Files.size).sum.toDouble,
      "io.checkpoints" -> logFiles.count(_.getFileName.toString.endsWith(".checkpoint.json")).toDouble,
      "io.data_files_live" -> CommitLog.snapshotFiles(table).size.toDouble,
      "io.data_files_on_disk" -> top.count(_.endsWith(".parquet")).toDouble,
      "io.dv_files" -> top.count(f => !f.endsWith(".parquet") && !f.endsWith(".bloom") && f.contains("dv")).toDouble,
      "io.bytes_on_disk" -> Dirs.size(t)._1.toDouble)
  }

  /** Bytes on disk under the table and the live snapshot's bytes. */
  def space(): (Long, Long) = (Dirs.size(tableDir)._1, CommitLog.snapshotSizeBytes(table))

  def facts: Map[String, Any] = Map(
    "input" -> (s"$HistoryBatches initial commits x $BatchRows rows (${HistoryBatches * BatchRows} rows); " +
      s"${PassOps.size} ops per pass (${PassOps.count(_.startsWith("read_"))} reads), a checkpoint every $CheckpointEvery passes; " +
      s"appends of $BatchRows rows, corrections of $CorrectionRows"),
    "caches" -> (s"CommitLog replay cache $ReplayCacheEntries states, parsed-file cache 1024 files; history > $ReplayCacheEntries versions; " +
      s"time travel to unread versions >= $TimeTravelDepth below the head misses it, latest reads hit"),
    "time_travel_versions" -> timeTravelled.toSeq.sorted,
    "history_versions" -> (if (table == null) 0L else CommitLog.currentVersion(table) + 1))
}
