package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One (band-bucket, document) probe row: the unit of work of the
  * streaming near-dup index. `shset` rides along so verification needs
  * no second lookup (see [[StreamingDedup.nearDupIngest]] on the trade).
  */
case class BandProbe(bucket_id: Int, bucket_hash: Long, doc_id: Long,
                     shset: Seq[Long])

/** Per-bucket state: the capped member list (parallel id/set seqs). */
case class BucketState(ids: Seq[Long], sets: Seq[Seq[Long]])

/** A [[BandProbe]] carrying its event time — the evicting overload's
  * probe row (the timestamp anchors the bucket's retention timeout).
  */
case class TimedBandProbe(bucket_id: Int, bucket_hash: Long, doc_id: Long,
                          shset: Seq[Long], ts: java.sql.Timestamp)

/** A verified streaming near-dup hit: `doc_id` arrived after (or in the
  * same micro-batch as, with a larger id than) `matched_id`.
  */
case class NearDupHit(doc_id: Long, matched_id: Long, jacc: Double)

/** One (text-digest, id) probe row for
  * [[StreamingDedup.exactDedupIngest]].
  */
case class DigestProbe(digest: String, doc_id: Long)

/** Per-digest state for [[StreamingDedup.exactDedupIngest]]: the
  * digest has been ingested; `canon` is its first (smallest-id within
  * the arrival micro-batch) carrier.
  */
case class DigestIndexed(canon: Long)

/** An exact-dedup ingest classification — the streaming row of
  * [[graft.ops.Dedup.dedupIncremental]]'s (doc_id, status) contract.
  */
case class DedupStatus(doc_id: Long, status: String)

/** One (gram-digest, carrier) occurrence for
  * [[StreamingDedup.noveltyWithState]].
  */
case class TimedGram(gram: Long, doc_id: Long, ts: java.sql.Timestamp)

/** Per-gram state for [[StreamingDedup.noveltyWithState]]: the best
  * (min-id) carrier seen so far and whether its novelty has been
  * attributed (emitted) — after attribution the entry IS the gram
  * index (a gram the corpus has carries `attributed = true` forever).
  */
case class GramNoveltyState(attributed: Boolean, doc_id: Long, ts_ms: Long)

/** A first-carrier attribution: `gram` appears in the corpus FIRST in
  * `doc_id` (emitted once per gram, when the watermark passes the
  * carrier's event time).
  */
case class NovelGramOut(gram: Long, doc_id: Long, ts_ms: Long)

/** Streaming near-duplicate ingestion — the state-store twin of
  * [[graft.ops.Dedup.dedupIncrementalNear]]: a continuously arriving
  * document stream is checked against everything that arrived before
  * it, via the SAME MinHash band-bucket index the batch path joins on
  * (identical `md5_shingle_hash64`/`minhash_mod64`/`minhash_band_keys`
  * expressions — the engine-neutral family the batch oracles rebuild
  * in DuckDB — so stream and batch compute identical sketches; the
  * batch-parity spec pins it).
  *
  * Topology: each document fans out to its 16 band keys; the state
  * store keys groups by (bucket_id, bucket_hash) — at scale that is
  * the SAME partitioning the batch equi-join shuffles on, distributed
  * across executors by the state store. Each bucket group carries a
  * CAPPED member list (`maxBucket`, default 100 — the
  * [[graft.ops.Dedup]] bucket-cap discipline: a degenerate boilerplate
  * bucket saturates and stops indexing instead of going quadratic);
  * an arriving probe verifies exact Jaccard against the members in
  * plain row-local Scala (same |A∩B| / (|A|+|B|−|A∩B|) formula in the
  * same IEEE double arithmetic as the batch verifier) and then joins
  * the list. Greedy keep-first falls out of arrival order: a hit's
  * `matched_id` always arrived first (ties within a micro-batch break
  * by doc_id, the batch op's order).
  *
  * State weight, stated honestly: members carry their full hashed
  * shingle set, so a bucket holds ≤ maxBucket × |set| longs. That is
  * the streaming price of single-pass verification — the batch twin
  * reads the sets from the corpus at verify time; a production
  * deployment that can afford a second hop would hold only doc ids in
  * bucket state and verify against a doc→set side store. The base
  * overload uses NoTimeout — the index persists for the stream's life
  * (the batch twin's persisted index table); the timestamped overload
  * bounds retention with watermark-driven EVENT-time eviction (quiet
  * buckets forgotten past `idleRetentionMs`, the crawl-freshness
  * posture).
  *
  * A pair sharing several bands can be emitted once per shared band —
  * `distinct()` downstream, exactly like the batch candidate
  * `distinct()`. Output mode: Append.
  */
object StreamingDedup {

  /** Band-probe fan-out: one row per (doc, band) with the doc's hashed
    * shingle set, plus the `carry` columns of `docs` — built from the
    * SAME native expressions as the batch sketch pipeline
    * (`graft.ops.Dedup`), which is what makes stream/batch parity exact
    * rather than approximate.
    */
  private def bandProbes(docs: DataFrame, idCol: String, textCol: String,
                         carry: Column*): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sketched = docs.select(col(idCol).as("doc_id") +:
      expr(s"md5_shingle_hash64(split($textCol, ' '), 3)").as("shset") +: carry: _*)
    val kept = sketched.columns.toSeq.drop(2).map(col) // carry, by output name
    sketched
      .withColumn("sig", expr("minhash_mod64(shset, 64)"))
      .select(col("doc_id") +: col("shset") +:
        posexplode(expr("minhash_band_keys(sig, 4)")) +: kept: _*)
      .select(col("pos").cast("int").as("bucket_id") +: col("col").as("bucket_hash") +:
        col("doc_id") +: col("shset") +: kept: _*)
  }

  /** One bucket's step over a micro-batch's probes, in doc_id order:
    * verify each probe against the members (exact Jaccard ≥ `tau`),
    * then append it unless the bucket already holds `maxBucket`
    * members — a saturated bucket stops indexing.
    */
  private def probeBucket(state: BucketState, sortedProbes: Seq[(Long, Seq[Long])],
                          tau: Double, maxBucket: Int): (BucketState, Seq[NearDupHit]) = {
    var st = state
    val out = Seq.newBuilder[NearDupHit]
    sortedProbes.foreach { case (id, shset) =>
      var i = 0
      while (i < st.ids.length) {
        if (st.ids(i) != id) {
          val b = st.sets(i)
          val c = intersectCount(shset, b)
          val j = c.toDouble / (shset.length + b.length - c)
          if (j >= tau) out += NearDupHit(id, st.ids(i), j)
        }
        i += 1
      }
      if (st.ids.length < maxBucket && !st.ids.contains(id))
        st = BucketState(st.ids :+ id, st.sets :+ shset)
    }
    (st, out.result())
  }

  /** Row-local exact intersection count — the Scala twin of the
    * codegen'd [[graft.functions.SetIntersectCount]] (hash-set the
    * smaller side, probe with the larger).
    */
  private def intersectCount(a: Seq[Long], b: Seq[Long]): Long = {
    val (small, large) = if (a.length <= b.length) (a, b) else (b, a)
    if (small.isEmpty) 0L
    else {
      val set = new java.util.HashSet[java.lang.Long](small.length * 2)
      small.foreach(set.add(_))
      var c = 0L
      large.foreach(x => if (set.contains(x)) c += 1L)
      c
    }
  }

  /** The streaming near-dup operator. Works identically over a
    * streaming or batch `docs` frame (the parity spec runs both).
    */
  def nearDupIngest(docs: DataFrame, idCol: String, textCol: String,
                    tau: Double, maxBucket: Int = 100): Dataset[NearDupHit] = {
    require(tau > 0 && tau <= 1, s"nearDupIngest: bad tau=$tau")
    val spark = docs.sparkSession
    import spark.implicits._
    bandProbes(docs, idCol, textCol).as[BandProbe]
      .groupByKey(p => (p.bucket_id, p.bucket_hash))
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows: Iterator[BandProbe], state: GroupState[BucketState]) =>
          val (st, hits) = probeBucket(
            state.getOption.getOrElse(BucketState(Vector.empty, Vector.empty)),
            rows.toSeq.sortBy(_.doc_id).map(p => (p.doc_id, p.shset)), tau, maxBucket)
          state.update(st)
          hits.iterator
      }
  }

  /** Bounded-retention overload — the NoTimeout form above keeps the
    * index for the stream's life (the persisted-index contract); this
    * one EVICTS a band bucket once the watermark advances
    * `idleRetentionMs` of event time past the bucket's last probe —
    * the crawl-ingest posture where near-dups only matter within a
    * freshness horizon and state must stay bounded by the horizon's
    * traffic, not the stream's history. Contract after eviction: the
    * bucket restarts EMPTY, so a duplicate arriving after the quiet
    * gap is NOT flagged against pre-gap members (they are forgotten —
    * the point of the horizon) and becomes the bucket's new first
    * member; stream/batch parity therefore holds per
    * quiet-gap-delimited segment, the
    * [[graft.streaming.EventTime.pageHinkleyWithState]] idle-retention
    * contract verbatim. The timeout is EVENT-time anchored
    * (`last probe ts + idleRetentionMs`, never the epoch-0 initial
    * watermark), so first-batch buckets are not evicted spuriously.
    */
  def nearDupIngest(docs: DataFrame, idCol: String, textCol: String,
                    tsCol: String, watermark: String, idleRetentionMs: Long,
                    tau: Double, maxBucket: Int): Dataset[NearDupHit] = {
    require(tau > 0 && tau <= 1, s"nearDupIngest: bad tau=$tau")
    require(idleRetentionMs > 0,
      s"nearDupIngest: idleRetentionMs must be positive, got $idleRetentionMs" +
        " (use the overload without a timestamp for an unbounded index)")
    val spark = docs.sparkSession
    import spark.implicits._
    bandProbes(docs.withWatermark(tsCol, watermark), idCol, textCol, col(tsCol).as("ts"))
      .as[TimedBandProbe]
      .groupByKey(p => (p.bucket_id, p.bucket_hash))
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_, rows: Iterator[TimedBandProbe], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            // quiet past the horizon: forget the bucket entirely
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toSeq
            val (st, hits) = probeBucket(
              state.getOption.getOrElse(BucketState(Vector.empty, Vector.empty)),
              batch.sortBy(_.doc_id).map(p => (p.doc_id, p.shset)), tau, maxBucket)
            state.update(st)
            // re-armed only when the bucket sees traffic; anchored to
            // the probes' own event time (the initial watermark is 0 —
            // an epoch-0-relative timeout would evict every first-batch
            // bucket on the next trigger)
            val lastTs = batch.iterator.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(lastTs + idleRetentionMs,
                state.getCurrentWatermarkMs() + 1))
            hits.iterator
          }
      }
  }

  /** Streaming twin of the batch EXACT incremental dedup
    * ([[graft.ops.Dedup.dedupIncremental]]): a continuously arriving
    * document stream classifies every row against the md5-digest index
    * the stream itself has built — `dup_of_index` (the digest was
    * ingested in an earlier micro-batch), `dup_in_increment` (a
    * smaller-id row with the same digest arrived in the SAME
    * micro-batch — the batch op's canonical-pick, which here falls out
    * of sorting the group), or `new` (this row becomes the digest's
    * canonical). Completes the streaming ingest family: exact (this),
    * near-dup ([[nearDupIngest]]), and phrase-novelty
    * ([[noveltyWithState]]) — the three granularities of "have I seen
    * this content before" a crawl pipeline runs side by side.
    *
    * Parity contract (spec-pinned): feeding a corpus in ANY
    * micro-batch split yields, per batch, exactly the statuses of the
    * batch op run with oldDocs = union of all earlier batches and
    * newDocs = that batch. At scale the state store keys ARE the
    * persisted digest-index table of the batch flow, partitioned by
    * digest — the same shuffle key the batch op joins on.
    *
    * State weight, stated honestly: one entry per DISTINCT text
    * digest, kept for the stream's life (a 32-hex-char key + one
    * long) — the entry set IS the dedup index, same trade as
    * [[noveltyWithState]]'s gram index; eviction would silently
    * re-admit previously-ingested content as `new`. The full 128-bit
    * md5 is kept (not a truncated 64-bit shuffle digest): EXACT dedup
    * must not false-positive, and the batch twin keys on full md5 for
    * the same reason. Output mode: Append.
    */
  def exactDedupIngest(docs: DataFrame, idCol: String,
                       textCol: String): Dataset[DedupStatus] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(md5(col(textCol)).as("digest"), col(idCol).as("doc_id"))
      .as[DigestProbe]
      .groupByKey(_.digest)
      .flatMapGroupsWithState[DigestIndexed, DedupStatus](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows: Iterator[DigestProbe], state: GroupState[DigestIndexed]) =>
          val indexed = state.getOption
          val batch = rows.toSeq.sortBy(_.doc_id)
          val out = batch.zipWithIndex.map { case (p, i) =>
            val status =
              if (indexed.isDefined) "dup_of_index"
              else if (i == 0) "new"
              else "dup_in_increment"
            DedupStatus(p.doc_id, status)
          }
          if (indexed.isEmpty && batch.nonEmpty)
            state.update(DigestIndexed(batch.head.doc_id))
          out.iterator
      }
  }

  /** Streaming twin of the batch n-gram novelty census
    * ([[graft.ops.TextAnalysis.ngramNovelty]]'s first-carrier
    * attribution): a continuously arriving document stream builds the
    * corpus-wide gram-digest index in the state store, and each
    * distinct 8-token gram is attributed ONCE — to its min-doc_id
    * carrier — as soon as the watermark guarantees no earlier carrier
    * can still arrive. The per-doc novelty report the batch op emits
    * is one grouped count over this stream's output joined with the
    * row-local per-doc gram totals (the parity spec derives it and
    * matches the batch rows exactly, prefix by prefix, across
    * micro-batch splits).
    *
    * Gram identity is the SAME `xxhash64` digest expression the batch
    * census shuffles ([[graft.ops.TextAnalysis.noveltyGramArr]]) —
    * stream/batch parity is by shared construction, and state keys are
    * 8-byte digests, never 8-token strings (the batch op's shuffle
    * discipline applied to the state store).
    *
    * Ordering contract (the batch op's, made explicit): doc ids are
    * ingestion order, monotone with event time. Under it, once the
    * watermark passes the current best carrier's timestamp no
    * still-unarrived row can carry a smaller id (anything later than
    * the watermark is also later in id), so attribution is final;
    * late rows behind the watermark are dropped before the operator
    * (standard). Attribution may happen in the arrival invocation
    * (watermark already past) or via the armed event-time timeout —
    * whichever the watermark reaches first.
    *
    * State weight, stated honestly: one (attributed, doc_id, ts)
    * entry per DISTINCT gram, kept for the stream's life — ~24 bytes
    * + key per gram. That is not a leak: the entry set IS the novelty
    * index (the batch op re-derives it from the whole corpus every
    * run; the incremental-dedup digest index is the same trade), and
    * eviction would silently re-mark recycled content as novel.
    * Output mode: Append.
    */
  def noveltyWithState(docs: DataFrame, idCol: String, tsCol: String,
                       textCol: String, watermark: String): Dataset[NovelGramOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        split(col(textCol), " ").as("tk"))
      .select(explode(expr(graft.ops.TextAnalysis.noveltyGramArr)).as("gram"),
        col("doc_id"), col("ts"))
      .as[TimedGram]
      .groupByKey(_.gram)
      .flatMapGroupsWithState[GramNoveltyState, NovelGramOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (gram: Long, rows: Iterator[TimedGram], state: GroupState[GramNoveltyState]) =>
          var s = state.getOption.getOrElse(
            GramNoveltyState(attributed = false, Long.MaxValue, Long.MaxValue))
          if (!state.hasTimedOut && !s.attributed) {
            rows.foreach { r =>
              if (r.doc_id < s.doc_id)
                s = s.copy(doc_id = r.doc_id, ts_ms = r.ts.getTime)
            }
          }
          val wm = state.getCurrentWatermarkMs()
          // STRICTLY past: a row AT the watermark is still admitted by
          // the stream (only ts < watermark drops), so equality cannot
          // close the attribution
          if (!s.attributed && s.doc_id != Long.MaxValue && s.ts_ms < wm) {
            // no earlier carrier can still arrive: attribute, and the
            // entry becomes a permanent index row (no further timeout)
            s = s.copy(attributed = true)
            state.update(s)
            Iterator.single(NovelGramOut(gram, s.doc_id, s.ts_ms))
          } else {
            state.update(s)
            if (!s.attributed && s.doc_id != Long.MaxValue)
              state.setTimeoutTimestamp(math.max(s.ts_ms, wm + 1))
            Iterator.empty
          }
      }
  }
}
