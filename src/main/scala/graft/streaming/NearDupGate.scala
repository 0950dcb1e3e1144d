package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}

/** Streaming NEAR-duplicate gate — the LSH sibling of
  * [[CorpusIngest]]'s exact digest dedup, for the recurring-crawl shape
  * where re-fetched pages mutate slightly (timestamps, counters, ad
  * slots) and so never collide on a content digest.
  *
  * Design: the batch x4 family's portable MinHash+LSH pipeline
  * ([[graft.ops.Dedup.minhashLshDedupPortable]]), re-cut for unbounded
  * input. Both kernels are ROW-LOCAL fused expressions
  * ([[graft.functions.MinHashSig]] / [[graft.functions.MinHashBandBuckets]]),
  * so signature + band buckets stream with zero aggregation; the ONE
  * stateful operator is the per-(band, bucket) representative check:
  *
  *  - state per active bucket = the FIRST-arrival doc's id and
  *    signature — `numHashes` longs, never text, never a token set;
  *  - an arriving doc sharing the bucket is verified against that
  *    representative by the SIGNATURE estimator (matching components /
  *    numHashes, e6 fixed-point — the estimator x34 calibrates against
  *    exact Jaccard), emitting a (keeper, doc, band, est_e6) verdict
  *    when it clears `minEstE6`;
  *  - an event-time timeout tied to the watermark evicts idle buckets,
  *    so state is bounded by the ACTIVE horizon, not the corpus — the
  *    `dropDuplicatesWithinWatermark` contract extended to near-dups.
  *
  * Exact-Jaccard verification is deliberately NOT done here: it needs
  * each doc's token set in state (document-sized, unbounded-vocabulary
  * rows through a state store). The estimator's sd at numHashes=32 is
  * ~sqrt(j(1-j)/32) <= 0.09, x34 measures the bias on the live corpus,
  * and a batch re-verify over the quarantine sink closes the loop for
  * pipelines that need the exact number.
  *
  * Verdicts are per colliding BAND (a doc near-duplicating its keeper
  * typically fires several bands); consumers take "any verdict row"
  * as the dup signal, the same any-bucket semantics the batch
  * `lshKeepers` min realizes. Cross-micro-batch arrival order decides
  * first-arrival (within a batch, (ts, doc_id) order makes it
  * deterministic); this SAME function on a bounded frame — where
  * flatMapGroupsWithState sees each group once with empty state —
  * reduces to the min-(ts, id) representative per bucket.
  * [[batchVerdicts]], the declarative twin the hash-gated
  * `p12_neardup_gate` entry pins against DuckDB, keys its keeper on
  * min(id) ALONE (the documents table carries no event time), so the
  * three surfaces agree exactly when arrival order follows id order —
  * the spec's precondition ("when arrival follows id order") and the
  * fixture's construction. A corpus whose ids are not arrival-ordered
  * should feed batchVerdicts an arrival-rank id or expect d1/d2 pairs
  * inverted relative to the stream on out-of-order buckets.
  */
object NearDupGate {

  /** One (band, bucket) occurrence of a doc: the LSH shuffle key plus
    * the doc's full signature for the estimator check. `ts` stays a
    * timestamp (not epoch millis) so the watermark metadata reaches
    * the stateful operator — EventTimeTimeout requires it. */
  final case class BucketDoc(band: Long, bucket: Long, doc_id: Long,
      sig: Seq[Long], ts: java.sql.Timestamp)

  /** Per-bucket state: the first-arrival representative. */
  final case class RepSig(doc_id: Long, sig: Seq[Long], last_ms: Long)

  /** Emitted when a doc shares a band bucket with its representative
    * and the signature estimate clears the threshold. */
  final case class Verdict(d1: Long, d2: Long, band: Long, est_e6: Long)

  /** Near-dup verdict stream over `docs` (streaming or batch).
    *
    * @param minEstE6 estimated-Jaccard admission threshold, e6
    *                 fixed-point (500000 = 0.5, the x4 verify bar)
    * @param ttlMinutes idle-bucket eviction horizon; with the
    *                   watermark it bounds state to the active window
    */
  def verdicts(docs: DataFrame, textCol: String, idCol: String,
      tsCol: String, numHashes: Int = 32, bands: Int = 8,
      minEstE6: Long = 500000L, watermark: String = "1 hour",
      ttlMinutes: Long = 60L): Dataset[Verdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ttlMs = ttlMinutes * 60000L

    // hoisted: the gate closure must not capture the Dataset itself
    // (a serialized Dataset has no logicalPlan executor-side)
    val streaming = docs.isStreaming
    val wm =
      if (streaming) docs.withWatermark(tsCol, watermark)
      else docs
    val toks = split(col(textCol), " ")
    val rows = wm
      .select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"),
        graft.functions.TokenKernelFns
          .minhashSig(spark, toks, numHashes).as("sig"),
        posexplode(graft.functions.TokenKernelFns
          .minhashBandBuckets(spark, toks, numHashes, bands)))
      // a null bucket only arises from null text (no tokens at all);
      // such rows carry no content to collide on
      .filter(col("col").isNotNull)
      .select(col("pos").cast("long").as("band"), col("col").as("bucket"),
        col("doc_id"), col("sig"), col("ts"))

    def gate(key: (Long, Long), it: Iterator[BucketDoc],
        state: GroupState[RepSig]): Iterator[Verdict] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      // (ts, id) order pins first-arrival within a micro-batch (and
      // makes the batch-mode reduction the min-(ts, id) representative)
      val arrivals = it.toVector.sortBy(d => (d.ts.getTime, d.doc_id))
      val out = Vector.newBuilder[Verdict]
      var rep = state.getOption
      arrivals.foreach { d =>
        rep match {
          case None =>
            rep = Some(RepSig(d.doc_id, d.sig, d.ts.getTime))
          case Some(r) if r.doc_id == d.doc_id =>
            // same doc re-fetched: no verdict, but the bucket is ACTIVE
            // — refresh last_ms, else the timeout below could be set
            // from a stale arrival time already behind the watermark
            // (Spark rejects timeouts below the watermark and kills
            // the query) and an actively re-crawled bucket would evict
            // at original-arrival + TTL, silently un-gating later dups
            rep = Some(r.copy(last_ms = math.max(r.last_ms, d.ts.getTime)))
          case Some(r) =>
            var eq = 0
            var i = 0
            while (i < numHashes) {
              if (r.sig(i) == d.sig(i)) eq += 1
              i += 1
            }
            val est = 1000000L * eq / numHashes
            if (est >= minEstE6) out += Verdict(r.doc_id, d.doc_id, key._1, est)
            rep = Some(r.copy(last_ms = math.max(r.last_ms, d.ts.getTime)))
        }
      }
      rep.foreach { r =>
        state.update(r)
        // clamp above the current watermark: a group whose only
        // arrivals this batch were allowed-lateness stragglers can
        // still carry last_ms + ttl at-or-below the watermark, which
        // setTimeoutTimestamp rejects (query-fatal)
        if (streaming) state.setTimeoutTimestamp(
          math.max(r.last_ms + ttlMs, state.getCurrentWatermarkMs() + 1L))
      }
      out.result().iterator
    }

    rows.as[BucketDoc]
      .groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState(OM.Append(),
        GroupStateTimeout.EventTimeTimeout())(gate)
  }

  /** Declarative batch reduction of [[verdicts]] (the hash-gated
    * `p12_neardup_gate` plan): keeper per
    * (band, bucket) = min id, verified by the signature estimator.
    *
    * Shape: NARROW band rows (band, bucket, id — no signature) feed the
    * bucket-min aggregate; the keeper and candidate signatures join
    * back from a per-doc signature frame. The first cut carried the
    * full signature through a (band, bucket) window instead ("the
    * keeper's sig travels with the min, no join back") — measured 1.0 s
    * vs this form's 0.65 s at sf0.1, and the volume argument holds at
    * every scale: the window form duplicates the 32-long signature
    * through the exchange ONCE PER BAND (~2 KB/doc); this form ships
    * ~24 B/doc/band of band rows plus the signature exactly once
    * (~0.7 KB/doc total), the d1-side sig join is verdict-sized, and
    * at fixture scale AQE broadcasts both small sides so the wide side
    * never exchanges at all. Null-text docs (null bucket array) are
    * filtered like the stream side — they carry nothing to collide on
    * (and the oracle's unnest drops them identically). */
  def batchVerdicts(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, bands: Int = 8,
      minEstE6: Long = 500000L): DataFrame = {
    val spark = docs.sparkSession
    val toks = split(col(textCol), " ")
    val rows = docs
      .select(col(idCol), posexplode(graft.functions.TokenKernelFns
        .minhashBandBuckets(spark, toks, numHashes, bands)))
      .filter(col("col").isNotNull)
      .select(col(idCol), col("pos").cast("long").as("band"),
        col("col").as("bucket"))
    val bucketMin = rows.groupBy("band", "bucket")
      .agg(min(col(idCol)).as("d1"))
    val sigs = docs.select(col(idCol),
      graft.functions.TokenKernelFns
        .minhashSig(spark, toks, numHashes).as("__s"))
    rows.join(bucketMin, Seq("band", "bucket"))
      .filter(col(idCol) =!= col("d1"))
      .join(sigs.select(col(idCol), col("__s").as("sig2")), idCol)
      .join(sigs.select(col(idCol).as("d1"), col("__s").as("sig1")), "d1")
      .withColumn("eq", size(filter(
        zip_with(col("sig1"), col("sig2"), (a, b) => a === b), x => x)))
      .select(col("d1"), col(idCol).as("d2"), col("band"),
        expr(s"1000000L * eq DIV $numHashes").as("est_e6"))
      .filter(col("est_e6") >= minEstE6)
  }
}
