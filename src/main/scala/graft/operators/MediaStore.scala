package graft.operators

import graft.sources.TableSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Standing media-dedup store — the MULTIMODAL member of the admission
 * store family (fingerprint table: exact text dup; span inventory:
 * substring dup; band index: lexical near-dup; semantic members:
 * embedding near-dup; this: media duplication). Two key-hash-bucketed
 * [[TableSink]] relations under `dir`:
 *
 *  - `sha/`   — (sha256, rep_id): byte-identical duplication;
 *  - `phash/` — (dhash, rep_id): PERCEPTUAL duplication — re-published
 *    copies whose bytes differ but whose modality-sniffed 64-bit key
 *    ([[MultimodalOps.perceptualKey]]) is bit-identical by
 *    construction: the image dHash (re-encoded / brightness-shifted
 *    stills), the audio time-segment fingerprint (container-swapped /
 *    re-levelled recordings), or the folded video frame-signature
 *    (re-encoded keyframe videos) — one relation, kind-salted keys.
 *
 * The probe order is the cost order: the sha stage is a map-side hash
 * plus a key-bucket-pruned read (payload bytes NEVER shuffle — only
 * 32-byte hashes and ids move); ONLY sha-novel payloads decode (one
 * decode per DISTINCT sha — byte-identical copies share pixels), and
 * the dhash stage is another key-bucket-pruned read. Verdict
 * precedence: `duplicate` (sha hit) > `near_duplicate` (dhash hit) >
 * `novel`; only NOVEL documents' keys absorb (keep-first: a dropped
 * document never anchors later verdicts — the Admission absorbed-set
 * discipline), so [[run]] after [[run]] equals the arrival-ordered
 * global keep-first fold (spec-pinned).
 */
object MediaStore {

  private def shaDir(dir: String) = s"$dir/sha"
  private def phDir(dir: String) = s"$dir/phash"

  /** Does a media store live at `dir`? */
  def exists(dir: String): Boolean = TableSink.tableExists(shaDir(dir))

  private def shaLike(spark: SparkSession) = spark.range(0)
    .select(lit("").as("sha"), lit(0L).as("rep_id"))
  private def phLike(spark: SparkSession) = spark.range(0)
    .select(lit(0L).as("dh"), lit(0L).as("rep_id"))

  /** (id, sha, dh) for one decode per DISTINCT sha: byte-identical
    * payloads share content, so only the min-id representative of each
    * sha decodes and its modality-sniffed perceptual key
    * ([[MultimodalOps.perceptualKey]] — image dHash, audio fingerprint,
    * or video signature, kind-salted into one keyspace) joins back by
    * sha. No-signal payloads (undecodable, too-small images, monotone
    * audio) carry dh = null — they can never be perceptual anchors or
    * victims, only exact. */
  private def withKeys(batch: DataFrame): DataFrame = {
    // Materialized ONCE (optimization round 20): the rep aggregation,
    // the rep-payload join-back, and the final id join are three
    // differently-keyed consumers, so without the checkpoint each
    // re-evaluated the payload SOURCE (a full re-read — or re-synthesis,
    // for generated fixtures — plus a sha256 of every payload, three
    // times per call). The checkpoint stores payload bytes as LOCAL
    // disk-backed blocks — nothing shuffles, per the class contract;
    // the per-batch run holds batch-sized state, init corpus-sized
    // (its documented O(corpus)-once price).
    val withSha = batch.select(col("id").cast("long").as("id"), col("payload"),
      sha2(col("payload"), 256).as("sha"))
      .localCheckpoint(true)
    val shaReps = withSha
      .groupBy("sha").agg(min(col("id")).as("__rid"))
      .join(withSha.select(col("id").as("__rid"), col("payload")), "__rid")
    val dhBySha = MultimodalOps.perceptualKeys(
        shaReps.select(col("__rid").as("id"), col("payload")))
      .toDF().select(col("id").as("__rid"), col("key").as("dh"))
      .join(shaReps.select(col("sha"), col("__rid")), "__rid")
      .select(col("sha"), col("dh"))
    withSha.select(col("id"), col("sha")).join(dhBySha, "sha")
  }

  /** Build both relations from the existing corpus — O(corpus), once:
    * every distinct sha registers with its min-id representative, every
    * distinct decodable dhash with its min-id representative (the
    * corpus IS the admitted content; keep-first within it). REFUSES a
    * previously-used dir (the store-family run-once contract). */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           numBuckets: Int = 16): Unit =
      graft.sources.WriterLease.withLease(dir, "mediastore-init") {
    if (exists(dir) || TableSink.tableExists(phDir(dir)))
      throw new IllegalStateException(
        s"media store at '$dir' was already initialized — init is run-once; " +
          "delete the store dir (or point at a fresh one) to rebuild.")
    val keys = withKeys(corpus).localCheckpoint(true)
    TableSink.overwrite(spark, shaDir(dir),
      keys.groupBy("sha").agg(min(col("id")).as("rep_id"))
        .withColumn("__v", lit(0L)),
      Seq("sha"), numBuckets)
    TableSink.overwrite(spark, phDir(dir),
      keys.filter(col("dh").isNotNull)
        .groupBy(col("dh")).agg(min(col("id")).as("rep_id"))
        .withColumn("__v", lit(0L)),
      Seq("dh"), numBuckets)
  }

  /**
   * Admit one batch (id, payload) against the standing store and absorb
   * the novel documents' keys — ONE call, the [[graft.pipelines
   * .Admission.run]] shape. Returns (id, verdict, rep_id): verdict ∈
   * {duplicate, near_duplicate, novel}; rep_id = the anchoring
   * representative (−1 for novel). Batch-internal duplication follows
   * the arrival order (id ascending): the first store-missing document
   * of each pattern is novel and anchors the rest of its batch.
   * Per-batch cost: O(batch) hashing + one decode per distinct novel
   * sha + two key-bucket-pruned reads + two O(batch) upserts.
   */
  def run(spark: SparkSession, dir: String, batch: DataFrame,
          version: Long): DataFrame =
    graft.sources.WriterLease.withLease(dir, "mediastore-run") {
      require(exists(dir), s"no media store at '$dir' — run init first")
      val keys = withKeys(batch).localCheckpoint(true)
      val out = judge(spark, dir, keys)
      absorbNovel(spark, dir, keys, out, version)
      out
    }

  /** Stages 1–3 — the verdict relation, NO store mutation. */
  private def judge(spark: SparkSession, dir: String, keys: DataFrame): DataFrame = {
    // stage 1: stored sha hits (bucket-pruned read of the batch's keys)
    val shaProbe = keys.select("sha").distinct()
    val storedSha = TableSink.readBuckets(spark, shaDir(dir), shaLike(spark),
        TableSink.keyBucketIdsFor(shaDir(dir), shaProbe))
      .join(broadcast(shaProbe), Seq("sha"), "left_semi")
      .select(col("sha"), col("rep_id").as("__sha_rep"))
    // stage 2: stored dhash hits for the sha-missing documents
    val afterSha = keys.join(broadcast(storedSha), Seq("sha"), "left")
    val phProbe = afterSha.filter(col("__sha_rep").isNull && col("dh").isNotNull)
      .select("dh").distinct()
    val storedPh = TableSink.readBuckets(spark, phDir(dir), phLike(spark),
        TableSink.keyBucketIdsFor(phDir(dir), phProbe))
      .join(broadcast(phProbe), Seq("dh"), "left_semi")
      .select(col("dh"), col("rep_id").as("__ph_rep"))
    val judged = afterSha.join(broadcast(storedPh), Seq("dh"), "left")
    // stage 3: the batch-internal fold over fully store-missing docs —
    // the min-id document of each pattern (dhash; null dh groups by sha
    // instead: undecodable content can only duplicate exactly) is
    // novel; the rest anchor to it, exactly iff they share its sha.
    val missG = judged.filter(col("__sha_rep").isNull && col("__ph_rep").isNull)
      .withColumn("__g0", coalesce(col("dh"), lit(-1L)))
      .withColumn("__g1", when(col("dh").isNull, col("sha")).otherwise(lit("")))
    val firstOf = missG.groupBy("__g0", "__g1")
      .agg(min(col("id")).as("__first"))
    val withFirst = missG.join(broadcast(firstOf), Seq("__g0", "__g1"))
    val firstSha = withFirst.filter(col("id") === col("__first"))
      .select(col("__g0"), col("__g1"), col("sha").as("__first_sha"))
    val folded = withFirst.join(broadcast(firstSha), Seq("__g0", "__g1"))
      .select(col("id"),
        when(col("id") === col("__first"), lit("novel"))
          .when(col("sha") === col("__first_sha"), lit("duplicate"))
          .otherwise(lit("near_duplicate")).as("verdict"),
        when(col("id") === col("__first"), lit(-1L))
          .otherwise(col("__first")).as("rep_id"))
    val out = judged.select(col("id"),
        when(col("__sha_rep").isNotNull, lit("duplicate"))
          .when(col("__ph_rep").isNotNull, lit("near_duplicate")).as("verdict"),
        coalesce(col("__sha_rep"), col("__ph_rep")).as("rep_id"))
      .filter(col("verdict").isNotNull)
      .unionByName(folded)
      .localCheckpoint(true)
    out
  }

  /** Absorb ONLY the novel documents' keys (keep-first — dropped
    * documents never anchor), O(batch) key-bucket upserts. Idempotent
    * for a fixed (verdicts, version): a replay upserts the identical
    * rows under the identical keys. */
  private def absorbNovel(spark: SparkSession, dir: String, keys: DataFrame,
                          out: DataFrame, version: Long): Unit = {
    val novel = keys.join(
      out.filter(col("verdict") === "novel").select("id"), "id")
    TableSink.upsert(spark, shaDir(dir),
      novel.select(col("sha"), col("id").as("rep_id"))
        .withColumn("__v", lit(version)),
      Seq("sha"), "__v")
    TableSink.upsert(spark, phDir(dir),
      novel.filter(col("dh").isNotNull)
        .select(col("dh"), col("id").as("rep_id"))
        .withColumn("__v", lit(version)),
      Seq("dh"), "__v")
  }

  private def verdictDir(dir: String, batchId: Long) =
    s"$dir/verdicts/batch_$batchId"

  /**
   * Exactly-once per-micro-batch media admission — the
   * [[graft.pipelines.Admission.runCommitted]] idiom applied to the
   * media funnel: the batch's verdict parquet is the COMMIT POINT,
   * written before any store mutation. A crash before the commit
   * replays against unchanged stores; a crash after it reads the
   * verdicts BACK (never recomputes — the store may already hold this
   * batch's own keys, and a recompute would mark the batch a duplicate
   * of itself) and re-absorbs idempotently (keep-first keys under the
   * batch-id version). Payload hashing/decoding re-runs on replay —
   * deterministic, and payload bytes still never shuffle.
   */
  def runCommitted(spark: SparkSession, dir: String, batch: DataFrame,
                   batchId: Long): DataFrame =
    graft.sources.WriterLease.withLease(dir, "mediastore-run-committed") {
      require(exists(dir), s"no media store at '$dir' — run init first")
      val vd = verdictDir(dir, batchId)
      val keys = withKeys(batch).localCheckpoint(true)
      val committed = graft.sources.StoreFs.get.exists(s"$vd/_SUCCESS")
      if (!committed)
        judge(spark, dir, keys).write.mode("overwrite").parquet(vd)
      val out = graft.sources.StoreRead.parquet(spark, Seq(vd))
      absorbNovel(spark, dir, keys, out, version = batchId)
      out
    }

  /**
   * The streaming media ingest: every micro-batch of (id, payload)
   * runs [[runCommitted]] under its epoch id — exactly-once end-to-end
   * (restart replays the last uncommitted epoch onto identical
   * verdicts and store state), with the verdict history accumulating
   * under `dir/verdicts/batch_<epoch>` as the queryable ingest log.
   * The streaming twin of the [[graft.pipelines.Admission.stream]]
   * text funnel, for the media lane.
   */
  def stream(spark: SparkSession, dir: String, source: DataFrame,
             checkpointDir: String,
             trigger: org.apache.spark.sql.streaming.Trigger =
               org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        batch.persist()
        try {
          if (!batch.isEmpty) runCommitted(spark, dir, batch, epoch)
          ()
        } finally { batch.unpersist(); () }
      }
      .start()

  /** Takedown — the content-level inverse of absorption (the
    * [[graft.pipelines.Admission.unadmit]] contract): given the removed
    * documents' PAYLOADS (what was indexed), recompute both keys
    * map-side and delete them bucket-pruned; a later re-submission of
    * the content is novel again. Key-idempotent.
    *
    * The exact (sha) keys always un-anchor. A PERCEPTUAL row is shared
    * by a whole near-dup class, so it is deleted only when the removed
    * content IS its anchor (the row's rep_id resolves through the
    * removed payloads' sha rows) — a class anchored by OTHER live
    * content survives the takedown untouched. Residual, documented: if
    * the anchor falls while near-dup corpus members (init-time
    * co-residents) survive, the class is un-anchored until the next
    * submission re-registers it keep-first — the relation carries one
    * (key, rep) row per class, not a member list, by design. */
  def remove(spark: SparkSession, dir: String, removed: DataFrame): Unit =
      graft.sources.WriterLease.withLease(dir, "mediastore-remove") {
    require(exists(dir), s"no media store at '$dir' — run init first")
    val keys = withKeys(removed).localCheckpoint(true)
    val shaProbe = keys.select("sha").distinct()
    // resolve BEFORE deleting anything: which admitted docs are falling
    val fallingReps = TableSink.readBuckets(spark, shaDir(dir), shaLike(spark),
        TableSink.keyBucketIdsFor(shaDir(dir), shaProbe))
      .join(broadcast(shaProbe), Seq("sha"), "left_semi")
      .select("rep_id")
    val dhProbe = keys.filter(col("dh").isNotNull).select("dh").distinct()
    val dhVictims = TableSink.readBuckets(spark, phDir(dir), phLike(spark),
        TableSink.keyBucketIdsFor(phDir(dir), dhProbe))
      .join(broadcast(dhProbe), Seq("dh"), "left_semi")
      .join(broadcast(fallingReps), Seq("rep_id"), "left_semi")
      .select("dh")
      .localCheckpoint(true) // pin the pre-delete view
    TableSink.delete(spark, shaDir(dir), shaProbe, Seq("sha"))
    TableSink.delete(spark, phDir(dir), dhVictims, Seq("dh"))
  }

  /** Pin both key relations under `tag` — the composite replay-safe
    * discipline ([[graft.pipelines.Admission.snapshot]]): every half is
    * pre-checked BEFORE anything mutates, so a retried snapshot either
    * completes an unchanged half-taken tag or refuses loudly if ingest
    * ran in between — never a silent re-point at post-tag state. Take
    * it between batches (single-writer maintenance is the quiescent
    * point). */
  def snapshot(dir: String, tag: String): Unit =
    graft.sources.WriterLease.withLease(dir, "mediastore-snapshot") {
      require(exists(dir), s"no media store at '$dir' — run init first")
      val halves = Seq(shaDir(dir), phDir(dir))
      halves.foreach { d =>
        TableSink.listSnapshots(d).get(tag).foreach { pinned =>
          require(TableSink.currentSeq(d).contains(pinned),
            s"snapshot tag '$tag' at '$d' already pins generation $pinned " +
              s"but the live generation is ${TableSink.currentSeq(d)} — the " +
              "store moved on since a half-taken snapshot; refusing to " +
              "re-point. Drop the tag and take a fresh one.")
        }
      }
      halves.foreach { d =>
        if (!TableSink.listSnapshots(d).contains(tag)) {
          TableSink.snapshot(d, tag); ()
        }
      }
    }

  /** Is `tag` fully pinned on both relations? (the composite-restore
    * pre-check — [[graft.pipelines.Release]]). */
  def snapshotPinned(dir: String, tag: String): Boolean =
    Seq(shaDir(dir), phDir(dir)).forall(d =>
      TableSink.listSnapshots(d).contains(tag))

  /** Release a [[snapshot]] tag on both relations. */
  def dropSnapshot(dir: String, tag: String): Unit =
    graft.sources.WriterLease.withLease(dir, "mediastore-drop-snapshot") {
      TableSink.dropSnapshot(shaDir(dir), tag)
      TableSink.dropSnapshot(phDir(dir), tag)
    }

  /** Roll both key relations back to a [[snapshot]] tag — generation
    * republish, no data movement. CONTRACT (the
    * [[graft.pipelines.Admission.restore]] rule): batch identities are
    * monotone across the store's whole history — the `verdicts/` commit
    * log is deliberately NOT rolled back, so a [[runCommitted]]
    * replaying a post-tag `batchId` returns that batch's ORIGINAL
    * verdicts and re-absorbs them idempotently under its own version
    * (crash replay stays safe across the rollback). Re-admit
    * rolled-back content under fresh batch ids. */
  def restore(dir: String, tag: String): Unit =
    graft.sources.WriterLease.withLease(dir, "mediastore-restore") {
      TableSink.restore(shaDir(dir), tag)
      TableSink.restore(phDir(dir), tag)
    }

  /** Storage audit ([[graft.sources.StoreCheck]]): both key relations
    * in one report. */
  def fsck(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StoreCheck.tableSink(spark, shaDir(dir))
      .unionByName(graft.sources.StoreCheck.tableSink(spark, phDir(dir)))
}
