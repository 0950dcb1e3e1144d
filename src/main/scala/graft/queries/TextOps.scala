package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.ops.{CorpusClean, Dedup, Packing, TextStats}

/** LLM-pipeline text operators over `documents` (SURVEY.md §2.9 X1/X3/X4
  * plus the training-data-pipeline extensions: language-ID, quality
  * scoring, token counting, fingerprinting, MinHash/SimHash near-dup).
  */
object TextOps {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  private val stopSql = "('the','a','an','of','to','in','and','is','it','that')"

  // t_decontam_capped's shingle document-frequency cap: low enough to
  // fire on the fixture's repeated template sentences (see the entry)
  private val DfCap = 25

  // DuckDB replay of Dedup.minhashLshDedupPortable(documents, 32, 8, .5):
  // the affine coefficients are the SAME PortableHash literals the Spark
  // plan embeds, so signatures — and therefore buckets, keepers, and the
  // verified pair set — must agree bit-for-bit.
  // Shared CTE chain (representatives -> signatures -> bands ->
  // keeper pairs -> exact intersections) used by both the x4 dedup
  // oracle and the x34 calibration oracle.
  private def minhashCoreCtes: String = {
    import graft.functions.PortableHash
    val k = 32
    val aList = (0 until k).map(PortableHash.a).mkString("[", ",", "]")
    val bList = (0 until k).map(PortableHash.b).mkString("[", ",", "]")
    s"""reps AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)),
        toks AS (
          SELECT DISTINCT doc_id,
                 unnest(string_split(text, ' ')) AS tok FROM reps),
        tw AS (
          SELECT doc_id,
                 ${PortableHash.md5wSql("tok")} % ${PortableHash.M} AS w
          FROM toks),
        sig AS (
          SELECT doc_id, i,
                 min(($aList[i + 1] * w + $bList[i + 1])
                     % ${PortableHash.P}) AS sv
          FROM tw CROSS JOIN range(0, $k) s(i) GROUP BY doc_id, i),
        bkt AS (
          SELECT doc_id, i // 4 AS band,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list(sv ORDER BY i)),
                   (acc, x) -> (acc * 1000003 + x) % 1000000007) AS bucket
          FROM sig GROUP BY doc_id, i // 4),
        bmin AS (SELECT band, bucket, min(doc_id) AS bm
                 FROM bkt GROUP BY 1, 2),
        keeper AS (
          SELECT min(m.bm) AS d1, b.doc_id AS d2
          FROM bkt b JOIN bmin m USING (band, bucket)
          GROUP BY b.doc_id HAVING min(m.bm) < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
        inter AS (
          SELECT k.d1, k.d2, count(*) AS c
          FROM keeper k JOIN toks t1 ON t1.doc_id = k.d1
                        JOIN toks t2 ON t2.doc_id = k.d2
                                    AND t2.tok = t1.tok
          GROUP BY k.d1, k.d2)"""
  }

  private def minhashLshSql: String =
    s"""WITH $minhashCoreCtes
        SELECT i.d1, i.d2,
               round(c * 1.0 / (s1.n + s2.n - c), 4) AS jaccard
        FROM inter i JOIN sizes s1 ON s1.doc_id = i.d1
                     JOIN sizes s2 ON s2.doc_id = i.d2
        WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.5
        ORDER BY d1, d2"""

  // Matching-signature-component count per keeper pair, then the
  // est-vs-exact comparison. est_e6 = 1e6 * eq // 32 mirrors the
  // Spark side's BIGINT DIV exactly; pairs with no shared token (a
  // pure bucket collision) coalesce the exact side to 0.
  private def lshCalibrationSql: String =
    s"""WITH $minhashCoreCtes,
        mtch AS (
          SELECT k.d1, k.d2, count(*) AS eq
          FROM keeper k JOIN sig s1 ON s1.doc_id = k.d1
                        JOIN sig s2 ON s2.doc_id = k.d2
                                   AND s2.i = s1.i
          WHERE s1.sv = s2.sv
          GROUP BY k.d1, k.d2)
        SELECT k.d1, k.d2,
               1000000 * coalesce(m.eq, 0) // 32 AS est_e6,
               1000000 * coalesce(i.c, 0)
                 // (s1.n + s2.n - coalesce(i.c, 0)) AS exact_e6,
               (1000000 * coalesce(m.eq, 0) // 32)
                 - (1000000 * coalesce(i.c, 0)
                    // (s1.n + s2.n - coalesce(i.c, 0))) AS err_e6
        FROM keeper k
        LEFT JOIN mtch m ON m.d1 = k.d1 AND m.d2 = k.d2
        LEFT JOIN inter i ON i.d1 = k.d1 AND i.d2 = k.d2
        JOIN sizes s1 ON s1.doc_id = k.d1
        JOIN sizes s2 ON s2.doc_id = k.d2
        ORDER BY k.d1, k.d2"""

  // DuckDB replay of the streaming near-dup gate's batch twin: every
  // signature component re-derived independently, keeper = min doc_id
  // per (band, bucket), verdict = estimated Jaccard (matching
  // components // 32, e6) at >= 0.5. No reps pre-pass: the gate sees
  // raw arrivals (exact dups simply estimate 1.0). An inner join on
  // the match counts is safe: a polynomial bucket collision with zero
  // matching components would drop the row, but est 0 fails the
  // threshold on both sides anyway.
  private def neardupGateSql: String = {
    import graft.functions.PortableHash
    val k = 32
    val aList = (0 until k).map(PortableHash.a).mkString("[", ",", "]")
    val bList = (0 until k).map(PortableHash.b).mkString("[", ",", "]")
    s"""WITH toks AS (
          SELECT DISTINCT doc_id,
                 unnest(string_split(text, ' ')) AS tok FROM documents),
        tw AS (
          SELECT doc_id,
                 ${PortableHash.md5wSql("tok")} % ${PortableHash.M} AS w
          FROM toks),
        sig AS (
          SELECT doc_id, i,
                 min(($aList[i + 1] * w + $bList[i + 1])
                     % ${PortableHash.P}) AS sv
          FROM tw CROSS JOIN range(0, $k) s(i) GROUP BY doc_id, i),
        bkt AS (
          SELECT doc_id, i // 4 AS band,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list(sv ORDER BY i)),
                   (acc, x) -> (acc * 1000003 + x) % 1000000007) AS bucket
          FROM sig GROUP BY doc_id, i // 4),
        keep AS (SELECT band, bucket, min(doc_id) AS d1
                 FROM bkt GROUP BY 1, 2),
        cand AS (
          SELECT k2.d1, b.doc_id AS d2, b.band
          FROM bkt b JOIN keep k2 USING (band, bucket)
          WHERE b.doc_id <> k2.d1),
        pairs AS (SELECT DISTINCT d1, d2 FROM cand),
        mt AS (
          SELECT p.d1, p.d2, count(*) AS eq
          FROM pairs p JOIN sig s1 ON s1.doc_id = p.d1
                       JOIN sig s2 ON s2.doc_id = p.d2 AND s2.i = s1.i
          WHERE s1.sv = s2.sv GROUP BY p.d1, p.d2)
        SELECT c.d1, c.d2, c.band, 1000000 * m.eq // $k AS est_e6
        FROM cand c JOIN mt m ON m.d1 = c.d1 AND m.d2 = c.d2
        WHERE 1000000 * m.eq // $k >= 500000
        ORDER BY c.d1, c.d2, c.band"""
  }

  // DuckDB replay of the portable SimHash pair query: rebuild both
  // 32-bit planes from md5 words, then check ALL pairs at hamming <= 6 —
  // the quadratic form the Spark side's pigeonhole banding provably
  // equals (a pair within 6 bits matches at least one of 7 bands).
  private def simhashSql: String =
    s"""WITH toks AS (
          SELECT DISTINCT doc_id,
                 unnest(string_split(text, ' ')) AS tok FROM documents),
        tw AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT)
                   AS wlo,
                 CAST(concat('0x', substring(md5(tok), 9, 8)) AS BIGINT)
                   AS whi
          FROM toks),
        votes AS (
          SELECT doc_id, j,
                 sum(CASE WHEN (wlo >> j) & 1 = 1 THEN 1 ELSE -1 END) AS slo,
                 sum(CASE WHEN (whi >> j) & 1 = 1 THEN 1 ELSE -1 END) AS shi
          FROM tw CROSS JOIN range(0, 32) r(j) GROUP BY doc_id, j),
        sig AS (
          SELECT doc_id,
                 sum(CASE WHEN slo > 0 THEN CAST(1 AS BIGINT) << j
                          ELSE 0 END) AS lo,
                 sum(CASE WHEN shi > 0 THEN CAST(1 AS BIGINT) << j
                          ELSE 0 END) AS hi
          FROM votes GROUP BY doc_id)
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(bit_count(xor(a.lo, b.lo))
                    + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS dist
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 6"""

  val entries: Seq[Entry] = Seq(

    // X1 — exact dedup: hash-groupBy on sha2(text), keep min doc_id.
    // Oracle groups by text itself (identical modulo SHA-256 collision).
    Entry("x1_exact_dedup",
      (s, dir) => Dedup.exactStats(t(s, dir, "documents"), "text", "doc_id")
        .select("keep_id", "dup_cnt").orderBy("keep_id"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt
              FROM documents GROUP BY text ORDER BY keep_id""")),

    // X3 — text stats per language: doc/token counts + exact n_chars
    // percentiles (exact `percentile`, not approx, for oracle parity).
    Entry("x3_text_stats",
      (s, dir) => t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("text"))).as("n_tokens"),
          round(percentile(col("n_chars"), lit(0.5)), 4).as("p50_chars"),
          round(percentile(col("n_chars"), lit(0.9)), 4).as("p90_chars"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
                     round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
                     round(quantile_cont(n_chars, 0.9), 4) AS p90_chars
              FROM documents GROUP BY lang ORDER BY lang""")),

    // X4 — near-dup: exact Jaccard on distinct token sets, blocked by
    // `source`, threshold 0.6. (MinHash+LSH below is the at-scale path.)
    // sharedInput: x4 and x14 persist the IDENTICAL hashed token-set
    // frame (same producer, same args) — Bench warms it once for both
    // (round-14 verdict task #2). x4e is NOT in the group (filtered
    // producer, different plan); x4_ngram has no sibling (shingles).
    // The bench artifact's `shared_fill` map names which entry's time
    // absorbed the cache build (the group's first by schedule order —
    // x14): read ITS ratio as fill-inclusive and the sibling's as
    // warm before comparing either against a per-query oracle.
    Entry("x4_jaccard_neardup",
      (s, dir) => Dedup.jaccardPairsHashed(
        Dedup.tokenHashSets(t(s, dir, "documents"), "text", "doc_id", "source"),
        "doc_id", "source", 0.6),
      sharedInput = Some("doc_token_hash_sets"),
      oracle =
      Some("""WITH toks AS (
                SELECT DISTINCT doc_id, source,
                       unnest(string_split(text, ' ')) AS tok
                FROM documents),
              sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
              inter AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                FROM toks a JOIN toks b
                  ON a.tok = b.tok AND a.source = b.source
                     AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT d1, d2,
                     round(c * 1.0 / (s1.n + s2.n - c), 4) AS jaccard
              FROM inter
              JOIN sizes s1 ON d1 = s1.doc_id
              JOIN sizes s2 ON d2 = s2.doc_id
              WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6
              ORDER BY d1, d2""")),

    // X4b — n-gram (3-shingle) Jaccard variant of X4.
    Entry("x4_ngram_jaccard",
      (s, dir) => Dedup.jaccardPairsHashed(
        Dedup.shingleHashSets(t(s, dir, "documents"), "text", "doc_id", "source", 3),
        "doc_id", "source", 0.35),
      Some("""WITH grams AS (
                SELECT DISTINCT doc_id, source,
                       unnest(list_transform(
                         generate_series(1, greatest(len(toks) - 2, 1)),
                         i -> array_to_string(toks[i:i+2], ' '))) AS tok
                FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
                      FROM documents)),
              sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
              inter AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                FROM grams a JOIN grams b
                  ON a.tok = b.tok AND a.source = b.source
                     AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT d1, d2,
                     round(c * 1.0 / (s1.n + s2.n - c), 4) AS jaccard
              FROM inter
              JOIN sizes s1 ON d1 = s1.doc_id
              JOIN sizes s2 ON d2 = s2.doc_id
              WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.35
              ORDER BY d1, d2""")),

    // X4e — the PPJoin PREFIX-FILTER path through the oracle gate
    // (round-13 verdict #2: the documented 100 TB sparse-corpus swap
    // was DedupSpec-only). Every 7th doc: random sampling thins
    // near-dup PAIRS quadratically (both endpoints must survive,
    // ~1/49), so candidates >> kept pairs — the prefix filter's
    // regime, unlike the ~59%-dense full fixture where plain blocked
    // intersection wins on constant factors (x4's scaladoc). The
    // oracle is the SAME quadratic token self-join the x4 family uses,
    // restricted identically — proving the prefix path exact, not just
    // fast: any pair the prefix bound wrongly pruned fails the hash.
    // Fixture-scale ratio floor (round 14): the 714-doc sample makes
    // the quadratic ORACLE trivially fast (~0.04 s), while the engine
    // side pays 4 jobs x the per-job floor + a persist fill (~0.5-0.7 s
    // warm) — a ratio no plan can close at this input size. The
    // PERFORMANCE case for the prefix path is priced where it matters,
    // on corpus-scale sparse input: SURVEY §7.4b's long-tail rows
    // (blocked 31.9/59.1 s vs prefix 4.9/6.5 s on the identical 20k
    // slice; ~linear µs/doc at 300k-500k docs).
    // orderBy matches the oracle's ORDER BY and pins COLLECT order:
    // the prefix path persists its hashed frame mid-query, so a
    // cold-cache and a warm-cache run of the same plan can emit the
    // (identical) pair set in different partition orders — caught by
    // RelationalSpec's determinism sweep (round 15).
    Entry("x4e_jaccard_sparse",
      (s, dir) => Dedup.jaccardPairsPrefixHashed(
        Dedup.tokenHashSets(
          t(s, dir, "documents").filter(col("doc_id") % 7 === 0),
          "text", "doc_id", "source"),
        "doc_id", "source", 0.6).orderBy("d1", "d2"),
      Some("""WITH toks AS (
                SELECT DISTINCT doc_id, source,
                       unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE doc_id % 7 = 0),
              sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
              inter AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                FROM toks a JOIN toks b
                  ON a.tok = b.tok AND a.source = b.source
                     AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT d1, d2,
                     round(c * 1.0 / (s1.n + s2.n - c), 4) AS jaccard
              FROM inter
              JOIN sizes s1 ON d1 = s1.doc_id
              JOIN sizes s2 ON d2 = s2.doc_id
              WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6
              ORDER BY d1, d2""")),

    // X14 — CONTAINMENT near-dup pairs: c/min(|A|,|B|) >= 0.9 on distinct
    // token sets within `source` — the asymmetric test that catches a
    // small doc pasted inside a big one (J ~= |small|/|big| ~= 0, so X4
    // misses it; sub-document duplication dominates scraped corpora).
    // Score is floor(1e4·c/min): exact integer ratio, strict hash gate.
    Entry("x14_containment",
      (s, dir) => Dedup.containmentPairsHashed(
        Dedup.tokenHashSets(t(s, dir, "documents"), "text", "doc_id", "source"),
        "doc_id", "source", 0.9),
      sharedInput = Some("doc_token_hash_sets"),
      oracle =
      Some("""WITH toks AS (
                SELECT DISTINCT doc_id, source,
                       unnest(string_split(text, ' ')) AS tok
                FROM documents),
              sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
              inter AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                FROM toks a JOIN toks b
                  ON a.tok = b.tok AND a.source = b.source
                     AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT d1, d2,
                     CAST(c * 10000 // least(s1.n, s2.n) AS BIGINT)
                       AS cont_e4
              FROM inter
              JOIN sizes s1 ON d1 = s1.doc_id
              JOIN sizes s2 ON d2 = s2.doc_id
              WHERE c * 10000 >= least(s1.n, s2.n) * 9000
              ORDER BY d1, d2""")),

    // T14 — n-gram novelty: per doc, the fraction of its distinct
    // 3-shingles whose FIRST appearance (smallest doc_id) is this doc —
    // the append-order "how much new text does each document add"
    // signal an incremental corpus-growth monitor tracks (novelty ~ 0
    // means the doc is stitched from already-seen text even when no
    // single pair-level near-dup fires). floor(1e4·novel/total) keeps
    // the ratio an exact integer. Two shingle-keyed shuffles (first-seen
    // agg, join back) — the t_boilerplate linear shape.
    Entry("t_ngram_novelty",
      (s, dir) => {
        // first-seen doc per shingle as a min() WINDOW over one pinned
        // k-keyed exchange — the previous persist + agg + join-back
        // paid a cache fill and a second shuffle for the same number
        // (the t_bigram_lm window rationale)
        val n = s.conf.get("spark.sql.shuffle.partitions").toInt
        Dedup.shingleHashTokens(
            t(s, dir, "documents"), "text", "doc_id", 3)
          .repartition(n, col("k"))
          .withColumn("first_doc",
            min("doc_id").over(Window.partitionBy("k")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L)
              .otherwise(0L)).as("n_novel"))
          .withColumn("novelty_e4",
            expr("n_novel * 10000 DIV n_shingles"))
      },
      Some("""WITH grams AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(
                         generate_series(1, greatest(len(toks) - 2, 1)),
                         i -> array_to_string(toks[i:i+2], ' '))) AS tok
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents)),
              fst AS (SELECT tok, min(doc_id) AS first_doc
                      FROM grams GROUP BY 1)
              SELECT doc_id, count(*) AS n_shingles,
                     CAST(sum(CASE WHEN first_doc = doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                     CAST(sum(CASE WHEN first_doc = doc_id
                         THEN 1 ELSE 0 END) * 10000
                       // count(*) AS BIGINT) AS novelty_e4
              FROM grams JOIN fst USING (tok)
              GROUP BY doc_id ORDER BY doc_id""")),

    // MinHash + LSH dedup assignments (exact-dedup pre-pass → signatures
    // over representatives → per-bucket min keeper → exact-Jaccard verify
    // of the single per-doc pair) — the 100 TB dedup path; output rows
    // are linear in docs even on a near-duplicate-dense corpus. Runs on
    // the md5-affine PORTABLE hash family (PortableHash), so DuckDB
    // replays the whole pipeline — signatures, band folds, keeper
    // assignment, Jaccard verify — as a full hash oracle. (The
    // xxhash64-family MinHashAgg fast path stays the engine-internal
    // variant, pinned equal-in-structure by DedupSpec/MinHashAggSpec.)
    Entry("x4_minhash_lsh",
      (s, dir) => Dedup.minhashLshDedupPortable(t(s, dir, "documents"),
        "text", "doc_id", 32, 8, 0.5),
      Some(minhashLshSql)),

    // X34 — LSH calibration: for every candidate keeper pair, the
    // signature-ESTIMATED Jaccard (matching components / 32) beside
    // the exact token Jaccard and the signed error, all e6 BIGINT DIV
    // exact — "measure your sketch before trusting it": the report
    // that says whether numHashes/bands fit THIS corpus before a
    // 100 TB dedup commits to them (estimator sd ~ sqrt(j(1-j)/k);
    // errors outside a few sd flag a hash-family or banding bug —
    // which is exactly what the oracle gate would catch here, since
    // DuckDB re-derives every signature component independently).
    // Unfiltered by the 0.5 verify threshold: the below-threshold
    // candidates are the calibration signal. Same plan as x4 (one
    // digest-keyed exchange, fused kernels); the signature array rides
    // the projection the token set already takes into the pair joins.
    Entry("x34_lsh_calibration",
      (s, dir) => Dedup.minhashCalibration(t(s, dir, "documents"),
        "text", "doc_id", 32, 8),
      Some(lshCalibrationSql)),

    // P12 — streaming near-dup gate, batch twin: the declarative
    // reduction of streaming/NearDupGate (LSH near-dup admission for
    // recurring crawls, where re-fetched pages mutate slightly and
    // never collide on p9's content digest). Keeper per (band, bucket)
    // = min doc_id (the stream's first arrival when event time follows
    // id — NearDupGateSpec pins the three-way agreement: MemoryStream
    // run == flatMapGroupsWithState batch run == this plan); verdicts
    // = the SIGNATURE-estimated Jaccard at >= 0.5 (state stays
    // numHashes longs per bucket — exact verification would put
    // document-sized token sets in a state store; x34 calibrates this
    // estimator against exact Jaccard on the same corpus). Plan: both
    // kernels row-local, bucket-min over NARROW (band, bucket, id)
    // rows, then the two signatures join back by id — the first-cut
    // window form shipped the 32-long signature once per band THROUGH
    // the bucket exchange and measured ~2.5x this plan's smoke rows at
    // both 10x and 50x (see NearDupGate.batchVerdicts).
    Entry("p12_neardup_gate",
      (s, dir) => graft.streaming.NearDupGate.batchVerdicts(
        t(s, dir, "documents"), "text", "doc_id"),
      Some(neardupGateSql)),

    // SimHash signatures + hamming-close pairs (<= 6 of 64 bits) via
    // exact pigeonhole banding — equi-join candidates, no O(n^2) loop.
    // Portable md5-word bit votes (two 32-bit planes) → the oracle
    // rebuilds every signature and checks the pair set with a naive
    // quadratic join, which is exactly what the banding provably equals
    // (any pair within 6 bits matches at least one of 7 bands). No
    // ORDER BY: hash-compare sorts rows itself, and the pair set is
    // ~630k rows at sf0.1 — a free full sort otherwise.
    Entry("x4_simhash",
      (s, dir) => {
        // fused row-local signatures (zero exchanges; bit-identical to
        // the exploded simhashPortable form, SimHashAggSpec)
        val sigs = Dedup.simhashPortableFused(
          t(s, dir, "documents"), "text", "doc_id")
        Dedup.simhashNearDupPairs(sigs, "doc_id", 6)
      },
      Some(simhashSql)),

    // Language-ID heuristic (script ranges + function words).
    Entry("t_lang_id",
      // spread(): the langId regex cascade is the query's CPU and runs
      // in the scan stage, which a single-row-group fixture file pins
      // to ONE task (0.25 s serialized at sf0.1; the shuffle it buys is
      // a few MB). Self-disables on multi-split inputs — Tables.spread.
      (s, dir) => Tables.spread(t(s, dir, "documents"))
        .groupBy(col("lang"), TextStats.langId(col("text")).as("detected"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "detected"),
      Some("""SELECT lang,
                     CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                          WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'
                          WHEN regexp_matches(text, '[\x{ac00}-\x{d7af}]') THEN 'ko'
                          WHEN regexp_matches(text, '(^| )(el|la|los|las|una|es|que) ') THEN 'es'
                          WHEN regexp_matches(text, '(^| )(le|les|des|est|une|dans) ') THEN 'fr'
                          WHEN regexp_matches(text, '(^| )(der|die|das|und|ist|nicht) ') THEN 'de'
                          ELSE 'en' END AS detected,
                     count(*) AS n
              FROM documents GROUP BY lang, detected
              ORDER BY lang, detected""")),

    // Quality-scoring signals per document.
    Entry("t_quality",
      (s, dir) => TextStats.qualityColumns(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tok", "mean_tok_len", "stopword_ratio",
          "symbol_ratio"),
      Some(s"""SELECT doc_id,
                     len(string_split(text, ' ')) AS n_tok,
                     round(length(text) * 1.0
                       / greatest(len(string_split(text, ' ')), 1), 4)
                       AS mean_tok_len,
                     round(len(list_filter(string_split(text, ' '),
                         t -> t IN $stopSql)) * 1.0
                       / greatest(len(string_split(text, ' ')), 1), 4)
                       AS stopword_ratio,
                     round(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1.0
                       / greatest(length(text), 1), 4) AS symbol_ratio
              FROM documents ORDER BY doc_id""")),

    // Token counting: whitespace + BPE-ish regex pre-tokenization.
    Entry("t_token_count",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.tokenCount(col("text")).as("ws_tokens"),
          TextStats.bpeTokenCount(col("text")).as("bpe_tokens")),
      Some("""SELECT doc_id,
                     len(string_split(text, ' ')) AS ws_tokens,
                     len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
              FROM documents ORDER BY doc_id""")),

    // TF-IDF: per-doc top-3 terms by tf * ln(N/df). The rank key is the
    // ROUNDED score (then term asc) so cross-engine ordering can't flip
    // on sub-ulp ln() differences between libm implementations.
    Entry("t_tfidf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val total = docs.agg(count(lit(1)).as("n_total"))
        // per-doc term frequency is ROW-LOCAL state (a document is one
        // row), so it comes from the fused token_tf_pairs kernel — the
        // old explode + groupBy(doc, tok) paid a corpus-sized exchange
        // for the same fold (round-11; TokenKernelsSpec pins parity
        // with the groupBy form). First exchange is now the df one.
        val tf = docs.select(col("doc_id"),
            explode(graft.functions.TokenKernelFns.tokenTfPairs(s,
              split(col("text"), " "))).as("p"))
          .select(col("doc_id"), col("p.tok").as("tok"), col("p.tf").as("tf"))
        // df = docs containing tok = tf rows per tok — a count() window
        // over one pinned tok-keyed exchange, not a vocabulary agg
        // joined back in (the t_bigram_lm window rationale)
        val n = s.conf.get("spark.sql.shuffle.partitions").toInt
        val scored = tf.repartition(n, col("tok"))
          .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
          .crossJoin(broadcast(total))
          .withColumn("tfidf", round(col("tf") *
            log(col("n_total").cast("double") / col("df")), 4))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("tok").asc)
        scored.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("doc_id", "rk", "tok", "tf", "df", "tfidf")
      },
      Some("""WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents),
              tfq AS (SELECT doc_id, tok, count(*) AS tf
                      FROM toks GROUP BY 1, 2),
              dfq AS (SELECT tok, count(*) AS df FROM tfq GROUP BY 1),
              tot AS (SELECT count(*) AS n_total FROM documents),
              scored AS (
                SELECT doc_id, tok, tf, df,
                       round(tf * ln(n_total * 1.0 / df), 4) AS tfidf
                FROM tfq JOIN dfq USING (tok) CROSS JOIN tot),
              ranked AS (
                SELECT *, row_number() OVER
                  (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rk
                FROM scored)
              SELECT doc_id, rk, tok, tf, df, tfidf
              FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""")),

    // X6 — deterministic, engine-portable stratified sampling: the
    // sampling decision is a leading-hex-digit test on md5(text) (md5 is
    // identical everywhere, unlike each engine's internal hash), with a
    // higher rate for 'en' docs — the reproducible-split primitive a
    // training-data pipeline needs (no rand(), re-runs select the same
    // rows on any engine).
    Entry("x6_sample",
      (s, dir) => {
        val hex = substring(md5(col("text")), 1, 1)
        val keep = when(col("lang") === "en",
          hex.isin("0", "1", "2", "3", "4", "5", "6", "7"))
          .otherwise(hex.isin("0", "1", "2", "3"))
        t(s, dir, "documents").filter(keep)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"), sum("n_chars").as("chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_sampled,
                     CAST(sum(n_chars) AS BIGINT) AS chars
              FROM documents
              WHERE CASE WHEN lang = 'en'
                    THEN substring(md5(text), 1, 1) IN
                         ('0','1','2','3','4','5','6','7')
                    ELSE substring(md5(text), 1, 1) IN ('0','1','2','3')
                    END
              GROUP BY lang ORDER BY lang""")),

    // T6 — decontamination: flag training docs sharing >= 3 distinct
    // 3-gram shingles with a held-out "benchmark" slice (source='src0'
    // stands in for the eval set). The overlap join's shuffle key is the
    // shingle — the same blocked shape as X4, linear in shared shingles,
    // never docs^2. The real-pipeline form of "did eval data leak into
    // training data".
    Entry("t_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // ONE pass over the shingle explosion: benchmark membership is a
        // max() window over the tok-keyed shuffle, not a distinct + join
        // — the two-branch form re-executed the corpus explode per
        // branch and shuffled both join sides (the t_bigram_lm window
        // rationale). count(1), not countDistinct: shingleSets is
        // per-doc distinct already. The explicit repartition(n, tok) IS
        // the window's exchange, pinned so AQE's size-based coalescing
        // can't serialize the CPU-heavy window sort.
        val n = s.conf.get("spark.sql.shuffle.partitions").toInt
        // fused kernel: distinct 3-gram xxhash64 keys straight from the
        // text (the window only needs shingle IDENTITY, and a collision
        // would fail the oracle loudly) — no gram strings materialized
        Dedup.shingleHashSets(docs, "text", "doc_id", "source", 3)
          .repartition(n, col("k"))
          .withColumn("in_bench",
            max(when(col("source") === "src0", 1L).otherwise(0L))
              .over(Window.partitionBy("k")))
          .filter(col("source") =!= "src0" && col("in_bench") === 1L)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("shared_shingles"))
          .filter(col("shared_shingles") >= 3)
      },
      Some("""WITH grams AS (
                SELECT DISTINCT doc_id, source,
                       unnest(list_transform(
                         generate_series(1, greatest(len(toks) - 2, 1)),
                         i -> array_to_string(toks[i:i+2], ' '))) AS tok
                FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
                      FROM documents)),
              bench AS (SELECT DISTINCT tok FROM grams WHERE source = 'src0')
              SELECT doc_id, count(DISTINCT tok) AS shared_shingles
              FROM grams JOIN bench USING (tok)
              WHERE source != 'src0'
              GROUP BY doc_id HAVING count(DISTINCT tok) >= 3
              ORDER BY doc_id""")),

    // T6b — decontamination with a BLOOM-FILTER pre-filter: same output
    // as t_decontaminate (bloom false positives are re-rejected by the
    // exact join, so the composed operator is exact and shares the same
    // oracle), but the corpus side is cut by a broadcast
    // `might_contain` BEFORE the shuffle join. This is the 100 TB form:
    // the benchmark's shingle set compresses to a fixed ~195 KiB sketch
    // (1.6M bits) that rides to every executor, so the join's shuffle
    // carries only probable-contaminated shingles — on a mostly-clean
    // corpus that is a >100x exchange reduction the exact form can't
    // see. Uses Spark's own BloomFilterAggregate/BloomFilterMightContain
    // (the runtime-filter-join machinery), surfaced via
    // [[graft.functions.BloomFn]]; the 1-row sketch frame joins in via
    // broadcast cross join (the q44/x2 1-row-frame pattern). Shingle
    // identity is xxhash64 (the t_boilerplate rationale: the join needs
    // identity only, and the oracle would catch a collision loudly).
    Entry("t_decontam_bloom",
      (s, dir) => {
        graft.functions.BloomFn.register(s)
        val sh = Dedup.shingleHashSets(t(s, dir, "documents"), "text",
          "doc_id", "source", 3)
        sh.filter(col("source") =!= "src0").select("doc_id", "k")
          .createOrReplaceTempView("tdb_probe")
        // The benchmark shingle set is read twice (bloom build + exact
        // membership) — persist it once. It is eval-set-sized (fixed,
        // small — the one side of this operator that is NOT
        // corpus-scaled), so the cache is safe at 100 TB, and the
        // source='src0' filter pushes down to the scan, so filling it
        // explodes only benchmark docs. NOT deduplicated: the bloom
        // sketch is multiplicity-blind, the membership test below is a
        // SEMI join (each probe row kept at most once regardless of
        // bench multiplicity), and count(DISTINCT k) dedups the evidence
        // — so the old pre-distinct paid an exchange for nothing.
        val bench = sh.filter(col("source") === "src0")
          .select("k").persist()
        bench.createOrReplaceTempView("tdb_bench")
        // might_contain requires its sketch as a constant or scalar
        // subquery (it must be evaluable before the probe scan starts —
        // the same analysis rule Spark's InjectRuntimeFilter satisfies),
        // so the query goes through the SQL entry point, q31-style.
        // Sketch sized to the eval slice (~100k distinct shingles at
        // sf-bench scale): the sketch is bench-sized state, so its
        // build cost should track the bench, not a worst-case constant.
        s.sql("""SELECT doc_id, count(DISTINCT k) AS shared_shingles
                 FROM tdb_probe
                 WHERE might_contain(
                         (SELECT bloom_filter_agg(k, 100000L, 800000L)
                          FROM tdb_bench), k)
                   AND k IN (SELECT k FROM tdb_bench)
                 GROUP BY doc_id HAVING count(DISTINCT k) >= 3
                 ORDER BY doc_id""")
      },
      Some("""WITH grams AS (
                SELECT DISTINCT doc_id, source,
                       unnest(list_transform(
                         generate_series(1, greatest(len(toks) - 2, 1)),
                         i -> array_to_string(toks[i:i+2], ' '))) AS tok
                FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
                      FROM documents)),
              bench AS (SELECT DISTINCT tok FROM grams WHERE source = 'src0')
              SELECT doc_id, count(DISTINCT tok) AS shared_shingles
              FROM grams JOIN bench USING (tok)
              WHERE source != 'src0'
              GROUP BY doc_id HAVING count(DISTINCT tok) >= 3
              ORDER BY doc_id""")),

    // T6c — decontamination with the DOCUMENT-FREQUENCY CAP armed (the
    // CorpusClean.Config.maxShingleDf scale default, oracle-gated in
    // isolation): shingles appearing in more than DfCap training docs
    // are boilerplate, not contamination evidence, and are dropped from
    // the overlap join by an anti-join BEFORE it fans out. This is the
    // mitigation measured as mandatory (uncapped: 14x cost for 5x docs
    // on boilerplate-heavy corpora, CHANGELOG); the cap is ANSI-expressible —
    // a HAVING-filtered hot set + NOT IN — so unlike the engine-hash
    // families the 100 TB-safe form itself gets the strict DuckDB hash
    // gate. DfCap = 25 is low enough to actually fire on the fixture
    // (the sf0.01 corpus repeats template sentences across >25 docs),
    // so the entry verifies the cap CHANGES evidence counts correctly,
    // not just that it is plumbed through.
    Entry("t_decontam_capped",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // Both the benchmark-membership flag AND the training document
        // frequency (shingleSets is per-doc distinct, so count of train
        // rows per tok IS the df) ride ONE tok-keyed window shuffle —
        // the previous distinct+anti-join+join form exploded the corpus
        // three times and shuffled five frames for the same two numbers
        // (the t_decontaminate / t_bigram_lm window rationale).
        val n = s.conf.get("spark.sql.shuffle.partitions").toInt
        val w = Window.partitionBy("k")
        // fused shingle-hash kernel (t_decontaminate rationale)
        Dedup.shingleHashSets(docs, "text", "doc_id", "source", 3)
          .repartition(n, col("k"))
          .withColumn("in_bench",
            max(when(col("source") === "src0", 1L).otherwise(0L)).over(w))
          .withColumn("train_df",
            sum(when(col("source") =!= "src0", 1L).otherwise(0L)).over(w))
          .filter(col("source") =!= "src0" && col("in_bench") === 1L &&
            col("train_df") <= DfCap)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("shared_shingles"))
          .filter(col("shared_shingles") >= 3)
      },
      Some(s"""WITH grams AS (
                SELECT DISTINCT doc_id, source,
                       unnest(list_transform(
                         generate_series(1, greatest(len(toks) - 2, 1)),
                         i -> array_to_string(toks[i:i+2], ' '))) AS tok
                FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
                      FROM documents)),
              bench AS (SELECT DISTINCT tok FROM grams WHERE source = 'src0'),
              hot AS (SELECT tok FROM grams WHERE source != 'src0'
                      GROUP BY tok HAVING count(*) > $DfCap)
              SELECT doc_id, count(DISTINCT tok) AS shared_shingles
              FROM grams JOIN bench USING (tok)
              WHERE source != 'src0'
                AND tok NOT IN (SELECT tok FROM hot)
              GROUP BY doc_id HAVING count(DISTINCT tok) >= 3
              ORDER BY doc_id""")),

    // T7 — repetition detection: distinct-token ratio per doc (low ratio
    // = boilerplate/looping text, a standard pretraining quality cut).
    Entry("t_repetition",
      (s, dir) => {
        val toks = split(col("text"), " ")
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(toks).cast("long").as("n_tok"),
            size(array_distinct(toks)).cast("long").as("n_distinct"))
          .withColumn("distinct_ratio",
            round(col("n_distinct") / col("n_tok"), 4))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                     len(string_split(text, ' ')) AS n_tok,
                     len(list_distinct(string_split(text, ' '))) AS n_distinct,
                     round(len(list_distinct(string_split(text, ' '))) * 1.0
                       / len(string_split(text, ' ')), 4) AS distinct_ratio
              FROM documents ORDER BY doc_id""")),

    // T8 — PII-style redaction stats: digit runs masked, counts +
    // post-redaction length per doc (the masking pass a training
    // pipeline runs before tokenization; DuckDB needs the explicit 'g'
    // flag for replace-all, Spark replaces all by default).
    Entry("t_redact",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
            .cast("long").as("n_digit_runs"),
          length(regexp_replace(col("text"), "[0-9]+", "<NUM>"))
            .cast("long").as("redacted_len"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
                     length(regexp_replace(text, '[0-9]+', '<NUM>', 'g'))
                       AS redacted_len
              FROM documents ORDER BY doc_id""")),

    // X6b — min-wise per-stratum sampling: the k docs with the smallest
    // md5(text) per lang. One pass, no rand(): the hash IS the sampling
    // priority, so the sample is deterministic, engine-portable, and
    // STABLE UNDER CORPUS GROWTH — adding docs can only displace, never
    // reshuffle, earlier picks (the property reservoir sampling loses).
    // At scale the window-sort form below would move to a bounded-heap
    // aggregate carrying k rows per group through the shuffle — a
    // MIN-priority, numeric-score variant of graft.functions.TopKAgg
    // (which as shipped keeps the k LARGEST double scores).
    Entry("x6b_minwise_sample",
      (s, dir) => {
        val w = Window.partitionBy("lang")
          .orderBy(col("pri").asc, col("doc_id").asc)
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), md5(col("text")).as("pri"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("lang", "rk", "doc_id", "pri")
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, rk, doc_id, pri FROM (
                SELECT lang, doc_id, md5(text) AS pri,
                       row_number() OVER (PARTITION BY lang
                         ORDER BY md5(text) ASC, doc_id ASC) AS rk
                FROM documents)
              WHERE rk <= 3 ORDER BY lang, rk""")),

    // Rolling-hash document fingerprint (order-sensitive).
    Entry("t_fingerprint",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(text, ' '),
                           t -> CAST(ascii(t) * 131 + length(t) AS BIGINT))),
                       (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
              FROM documents ORDER BY doc_id""")),

    // Q36 — transitive cluster resolution (pointer jumping / iterative
    // path halving) oracle-gated end to end. The input graph must be
    // reproducible in BOTH engines, so it is the DECLARATIVE near-dup
    // graph (exact token-Jaccard >= 0.6 within `source`, the x4 pair
    // form) reduced to the per-doc min-keeper assignment — the same
    // (d1 = keeper, d2 = doc) shape minhashLshDedup emits from its
    // engine-side hash family. Each assignment chain strictly decreases
    // (keeper < doc), so DuckDB can chase it with WITH RECURSIVE and
    // take the minimal (= terminal) root per doc; the engine resolves
    // the identical chains in O(log depth) joins via
    // [[graft.ops.Dedup.resolveClusters]].
    Entry("q36_dedup_clusters",
      (s, dir) => {
        val pairs = Dedup.jaccardPairsHashed(
          Dedup.tokenHashSets(t(s, dir, "documents"), "text", "doc_id", "source"),
          "doc_id", "source", 0.6)
        val assign = pairs.groupBy(col("d2"))
          .agg(min("d1").as("d1")).select("d1", "d2")
        Dedup.resolveClusters(assign).orderBy("doc")
      },
      Some("""WITH RECURSIVE toks AS (
                SELECT DISTINCT doc_id, source,
                       unnest(string_split(text, ' ')) AS tok
                FROM documents),
              sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
              inter AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                FROM toks a JOIN toks b
                  ON a.tok = b.tok AND a.source = b.source
                     AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              assign AS (
                SELECT d2 AS doc, min(d1) AS root
                FROM inter
                JOIN sizes s1 ON d1 = s1.doc_id
                JOIN sizes s2 ON d2 = s2.doc_id
                WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6
                GROUP BY d2),
              chase(doc, root) AS (
                SELECT doc, root FROM assign
                UNION ALL
                SELECT ch.doc, a.root
                FROM chase ch JOIN assign a ON ch.root = a.doc)
              SELECT doc, min(root) AS root FROM chase
              GROUP BY doc ORDER BY doc""")),

    // P1 — the composed CorpusClean pipeline's AUDIT FRAME, oracle-gated:
    // quality gate -> digit redaction -> decontamination vs the src0
    // benchmark slice -> exact dedup, each stage's (rows_in, rows_out)
    // replicated declaratively in DuckDB. The near-dedup stage depends
    // on the engine-side MinHash family, so its audit row is excluded
    // here and stays spec-gated (DataPipelineSpec); stages 1-4 are the
    // ANSI-expressible part of the flagship pipeline.
    //
    // Round-12 Profile floor note (verdict #6): the entry's ~2x ratio
    // is DRIVER-BARRIER-bound, not exchange-bound. Stage breakdown at
    // sf0.1 (tools/Profile, 8 cores): ~1.3 s of summed task time in
    // ~2.3 s wall across 16 jobs — (a) the quality-kernel cache fill +
    // n0/n1 aggregate (~0.5 s task time), (b) the broadcast-decontam
    // shingle join + combined n2a/n2 aggregate (~0.6 s), (c) the 3-row
    // audit materialization — everything else is AQE stage-
    // materialization and job-scheduling floor on a pipeline that is
    // SEQUENTIAL by semantics (each audit count gates the next stage's
    // input, so the three barriers cannot fuse). Round 12 removed the
    // one redundant barrier (exact.count() — see CorpusClean.clean:
    // n2a and n2 now come from ONE aggregation over the cached
    // decontaminated frame, 18 -> 16 jobs); the individual stages are
    // each oracle-green and one-exchange, and at 100 TB the barrier
    // floor (~1 s of driver round-trips) is noise against the stage
    // work it sequences.
    Entry("p1_corpus_audit",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bench = docs.filter(col("source") === "src0")
        val train = docs.filter(col("source") =!= "src0")
        // nearDedup = false: the oracle replicates only the
        // ANSI-expressible stages 1-4, so paying the MinHash pass to
        // then drop its audit row would be pure waste (measured ~5 s
        // at sf0.1)
        // maxShingleDf = 0: this entry's oracle replays the EXACT
        // uncapped stage counts; the scale-safe capped default is
        // oracle-gated separately (t_decontam_capped)
        val cfg = CorpusClean.Config(redactDigits = true,
          benchmark = Some(bench), minDistinctRatio = 0.1,
          nearDedup = false, maxShingleDf = 0)
        val (_, audit) = CorpusClean.clean(train, "text", "doc_id", cfg)
        audit.orderBy("stage")
      },
      Some(s"""WITH train AS (
                SELECT doc_id, text FROM documents WHERE source <> 'src0'),
              q AS (
                SELECT doc_id, text FROM train
                WHERE len(string_split(text, ' ')) >= 5
                  AND round(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1.0
                        / greatest(length(text), 1), 4) <= 0.3
                  AND round(len(list_filter(string_split(text, ' '),
                        t -> t IN $stopSql)) * 1.0
                        / greatest(len(string_split(text, ' ')), 1), 4) <= 0.9
                  AND len(list_distinct(string_split(text, ' '))) * 1.0
                        / len(string_split(text, ' ')) >= 0.1),
              red AS (
                SELECT doc_id,
                       regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS text
                FROM q),
              benchred AS (
                SELECT regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS text
                FROM documents WHERE source = 'src0'),
              rgrams AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(
                         generate_series(1, greatest(len(toks) - 2, 1)),
                         i -> array_to_string(toks[i:i+2], ' '))) AS tok
                FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM red)),
              bgrams AS (
                SELECT DISTINCT
                       unnest(list_transform(
                         generate_series(1, greatest(len(toks) - 2, 1)),
                         i -> array_to_string(toks[i:i+2], ' '))) AS tok
                FROM (SELECT string_split(text, ' ') AS toks FROM benchred)),
              contaminated AS (
                SELECT doc_id FROM rgrams JOIN bgrams USING (tok)
                GROUP BY doc_id HAVING count(DISTINCT tok) >= 3),
              kept AS (
                SELECT * FROM red
                WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
              counts AS (
                SELECT (SELECT count(*) FROM train) AS n0,
                       (SELECT count(*) FROM q) AS n1,
                       (SELECT count(*) FROM kept) AS n2a,
                       (SELECT count(DISTINCT text) FROM kept) AS n2)
              SELECT 'quality_filter' AS stage, n0 AS rows_in, n1 AS rows_out
              FROM counts
              UNION ALL SELECT 'decontaminate', n1, n2a FROM counts
              UNION ALL SELECT 'exact_dedup', n2a, n2 FROM counts
              ORDER BY stage""")),

    // T9 — vocabulary building: top-50 tokens by corpus frequency with
    // document frequency. orderBy+limit plans TakeOrderedAndProject
    // (k rows per partition through the shuffle, never a global sort);
    // tie order (n desc, token asc) is total, so the rank-50 cut is
    // deterministic in both engines.
    Entry("t_vocab",
      (s, dir) => t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"), col("doc_id"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("df"))
        .orderBy(desc("n"), asc("token")).limit(50),
      Some("""SELECT tok AS token, count(*) AS n,
                     count(DISTINCT doc_id) AS df
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents)
              GROUP BY 1 ORDER BY n DESC, token LIMIT 50""")),

    // P2 — sequence packing (ops.Packing.nextFitPack): greedy next-fit
    // assignment of documents into capacity-256 training bins, per
    // source shard in doc_id order — the operator that turns a cleaned
    // corpus into fixed-length pretraining examples. The engine runs
    // one sequential mapPartitions fold per shard (parallelism =
    // shards, linear output); the oracle replays the identical fold as
    // a per-shard recursive CTE. Capacity 256 at 10-100 tokens/doc
    // packs ~4 docs/bin.
    Entry("p2_sequence_pack",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("tk", size(split(col("text"), " ")).cast("long"))
        Packing.nextFitPack(s, docs, "source", "doc_id", "tk", 256L)
          .orderBy("shard", "doc")
      },
      Some("""WITH RECURSIVE d AS (
                SELECT source AS shard, doc_id AS doc,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY doc_id) AS rn
                FROM documents),
              rec AS (
                SELECT shard, rn, doc, toks,
                       CAST(0 AS BIGINT) AS bin, toks AS fill
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.shard, d.rn, d.doc, d.toks,
                       CASE WHEN r.fill > 0 AND r.fill + d.toks > 256
                            THEN r.bin + 1 ELSE r.bin END,
                       CASE WHEN r.fill > 0 AND r.fill + d.toks > 256
                            THEN d.toks ELSE r.fill + d.toks END
                FROM rec r JOIN d ON d.shard = r.shard AND d.rn = r.rn + 1)
              SELECT shard, doc, toks, bin FROM rec
              ORDER BY shard, doc""")),

    // T15 — BM25 relevance scoring (Robertson/Spärck Jones; the Lucene
    // idf variant ln(1 + (N-df+0.5)/(df+0.5)), k1=1.2, b=0.75): per-doc
    // top-3 terms — TF-IDF's (t_tfidf) retrieval-grade successor, the
    // scorer a dedup/retrieval pipeline uses to pick representative
    // terms with length normalization (long docs stop winning on raw
    // tf). Same shape as t_tfidf: row-local tf from the fused
    // token_tf_pairs kernel, df as a count window over ONE tok-keyed
    // exchange, corpus stats (N, total length) a 1-row broadcast. The
    // rank key is the ROUNDED score (then term asc) — the t_tfidf
    // cross-libm-ulp rationale; every arithmetic step is written in
    // the same order in both engines.
    Entry("t_bm25",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val stats = docs.agg(count(lit(1)).as("n_total"),
          sum(size(split(col("text"), " ")).cast("long")).as("sum_len"))
        // NO spread() here (measured loss): the tokenTfPairs kernel is
        // 0.85 s single-task at sf0.1, but fanning it to 32 tasks
        // ballooned total stage CPU to ~6 s (~0.1 s fixed cost per task
        // on this plan) and the wall got WORSE (0.83 -> 1.1 s) — the
        // downstream repartition(tok) already parallelizes the scorer
        val tf = docs.select(col("doc_id"),
            size(split(col("text"), " ")).as("dl"),
            explode(graft.functions.TokenKernelFns.tokenTfPairs(s,
              split(col("text"), " "))).as("p"))
          .select(col("doc_id"), col("dl"),
            col("p.tok").as("tok"), col("p.tf").as("tf"))
        val n = s.conf.get("spark.sql.shuffle.partitions").toInt
        val scored = tf.repartition(n, col("tok"))
          .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
          .crossJoin(broadcast(stats))
          .withColumn("bm25", round(
            log(lit(1.0) + (col("n_total") - col("df") + lit(0.5))
              / (col("df") + lit(0.5))) * (col("tf") * lit(2.2))
              / (col("tf") + lit(1.2) * (lit(0.25)
                + lit(0.75) * col("dl") * col("n_total") / col("sum_len"))),
            4))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("bm25").desc, col("tok").asc)
        scored.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("doc_id", "rk", "tok", "tf", "df", "bm25")
      },
      Some("""WITH toks AS (
                SELECT doc_id, len(string_split(text, ' ')) AS dl,
                       unnest(string_split(text, ' ')) AS tok
                FROM documents),
              tfq AS (SELECT doc_id, dl, tok, count(*) AS tf
                      FROM toks GROUP BY 1, 2, 3),
              dfq AS (SELECT tok, count(*) AS df FROM tfq GROUP BY 1),
              tot AS (SELECT count(*) AS n_total,
                             CAST(sum(len(string_split(text, ' ')))
                               AS BIGINT) AS sum_len
                      FROM documents),
              scored AS (
                SELECT doc_id, tok, tf, df,
                       round(ln(1.0 + (n_total - df + 0.5) / (df + 0.5))
                         * (tf * 2.2)
                         / (tf + 1.2 * (0.25
                           + 0.75 * dl * n_total / sum_len)), 4) AS bm25
                FROM tfq JOIN dfq USING (tok) CROSS JOIN tot),
              ranked AS (
                SELECT *, row_number() OVER
                  (PARTITION BY doc_id ORDER BY bm25 DESC, tok ASC) AS rk
                FROM scored)
              SELECT doc_id, rk, tok, tf, df, bm25
              FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""")),

    // T16 — per-doc token entropy: Shannon entropy of the document's
    // token distribution (nats) + distinct count — the repetitiveness /
    // degenerate-text signal beside t_repetition's max-run view (a
    // low-entropy doc is boilerplate or keyword stuffing even when no
    // single token dominates a run). Entirely ROW-LOCAL (a document is
    // one row): counts via filter over the sorted distinct tokens, the
    // entropy fold left-to-right over that SAME sorted order in both
    // engines, so the double summation is order-identical and the
    // 4-decimal gate can't flip on accumulation order. Zero exchanges —
    // scan, project, done; the O(k·n) per-row count scan (k = distinct
    // tokens) swaps for the O(n) token_tf_pairs kernel at scale if
    // profiling ever shows it hot.
    Entry("t_entropy",
      // spread(): the per-doc distinct/filter/aggregate lambda chain is
      // O(tokens^2) CPU in the scan stage — single-task on the fixture
      // file (0.63 s serialized at sf0.1); see t_lang_id.
      (s, dir) => Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("cs", expr(
          "transform(array_sort(array_distinct(toks)), " +
            "x -> size(filter(toks, t -> t = x)))"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tok"),
          size(col("cs")).cast("long").as("n_distinct"),
          round(expr(
            "ln(size(toks)) - aggregate(cs, CAST(0.0 AS DOUBLE), " +
              "(a, c) -> a + c * ln(c)) / size(toks)"), 4).as("ent")),
      Some("""WITH tk AS (
                SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents),
              c AS (
                SELECT doc_id, len(toks) AS n_tok,
                       list_transform(list_sort(list_distinct(toks)),
                         x -> len(list_filter(toks, t -> t = x))) AS cs
                FROM tk)
              SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
                     CAST(len(cs) AS BIGINT) AS n_distinct,
                     round(ln(n_tok) - list_reduce(list_prepend(0.0,
                         list_transform(cs, c -> c * ln(c))),
                       (a, c) -> a + c) / n_tok, 4) AS ent
              FROM c ORDER BY doc_id""")),

    // T17 — out-of-vocabulary rate per source: fraction of corpus
    // tokens outside the top-16 corpus vocabulary — the "how well
    // does a fixed tokenizer vocabulary cover this source" diagnostic
    // a mixture designer reads next to x7/x27 before allocating budget
    // (a high-OOV source inflates tokenized length and training cost).
    // Shape: ONE corpus-sized (source, tok) exchange; the vocabulary
    // (top-16 by corpus tf, tok tiebreak — t_vocab's deterministic
    // cut; 16 of the fixture's ~31-token synthetic vocabulary stands
    // in for 32k-of-millions real tokenizer coverage) and the OOV
    // anti-join both derive from that SAME aggregate,
    // and Spark's ReuseExchange collapses the two subtrees into one
    // physical exchange (asserted in TextStatsSpec); the vocab side
    // then broadcasts (16 rows — O(vocab) at any corpus scale),
    // per-source totals ride the same
    // frame. Exact integers end to end: oov_e6 = n_oov·1e6 DIV n_tok.
    Entry("t_oov_rate",
      (s, dir) => {
        // spread(): the tokenize+explode runs in the scan stage —
        // single-task on the fixture file (see t_lang_id)
        val st = Tables.spread(t(s, dir, "documents"))
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        val vocab = st.groupBy("tok").agg(sum("c").as("ctf"))
          .orderBy(col("ctf").desc, col("tok").asc).limit(16)
        val oov = st.join(broadcast(vocab.select("tok")), Seq("tok"),
            "left_anti")
          .groupBy("source").agg(sum("c").as("n_oov"))
        st.groupBy("source").agg(sum("c").as("n_tok"))
          .join(oov, Seq("source"), "left")
          .na.fill(0L, Seq("n_oov"))
          .select(col("source"), col("n_tok"), col("n_oov"),
            expr("n_oov * 1000000 DIV n_tok").as("oov_e6"))
          .orderBy("source")
      },
      Some("""WITH st AS (
                SELECT source, tok, count(*) AS c
                FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                GROUP BY 1, 2),
              vocab AS (
                SELECT tok FROM (
                  SELECT tok, sum(c) AS ctf FROM st GROUP BY 1
                  ORDER BY ctf DESC, tok ASC LIMIT 16)),
              oov AS (
                SELECT source, CAST(sum(c) AS BIGINT) AS n_oov
                FROM st WHERE tok NOT IN (SELECT tok FROM vocab)
                GROUP BY 1)
              SELECT source, CAST(t.n_tok AS BIGINT) AS n_tok,
                     COALESCE(o.n_oov, 0) AS n_oov,
                     COALESCE(o.n_oov, 0) * 1000000
                       // CAST(t.n_tok AS BIGINT) AS oov_e6
              FROM (SELECT source, sum(c) AS n_tok FROM st GROUP BY 1) t
              LEFT JOIN oov o USING (source)
              ORDER BY source""")),

    // P9 — the STREAMING ingest surface's batch twin
    // (streaming/CorpusIngest.ingest): quality gate -> digit REDACTION
    // -> exact dedup -> benchmark decontamination FLAG, every stage a
    // stateless row-local projection except the one digest-keyed dedup
    // — the shape that runs unchanged under readStream with the dedup
    // swapped to watermark-bounded state (CorpusIngestSpec gates the
    // streaming run; THIS entry hash-gates the shared expressions for
    // the FULL four-stage pipeline, round-13 verdict #6 — redaction
    // runs after the gate, so dedup and shingling see redacted text,
    // and the bench side redacts identically or digit-bearing shingles
    // could never match). The bench shingle set rides as sorted plan
    // state in the long_set_count kernel (eval-set-sized, the
    // t_decontam_bloom bound); DuckDB re-derives every gate ratio, the
    // redaction, the keeper, and each shared count from gram STRINGS —
    // an xxhash64 collision would fail the gate loudly. Flagged, not
    // dropped: the sink routes contaminated docs to quarantine without
    // losing the audit trail.
    Entry("p9_stream_ingest",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bench = graft.streaming.CorpusIngest.benchShingleKeys(
          docs.filter(col("source") === "src0")
            .withColumn("text",
              regexp_replace(col("text"), "[0-9]+", "<NUM>")), "text")
        // tsCol is consulted only on streaming frames (watermark);
        // any existing column name satisfies the batch signature
        graft.streaming.CorpusIngest.ingest(
            docs.filter(col("source") =!= "src0"), "text", "doc_id",
            tsCol = "n_chars", benchShingles = bench.toSeq,
            redactDigits = true)
          .select(col("doc_id"), col("shared_shingles"),
            col("contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH corp AS (SELECT doc_id, text FROM documents
                            WHERE source <> 'src0'),
              q AS (SELECT doc_id, text FROM corp
                    WHERE len(string_split(text, ' ')) >= 5
                      AND round(len(regexp_extract_all(text,
                            '[^A-Za-z0-9 ]')) * 1.0
                          / greatest(length(text), 1), 4) <= 0.3
                      AND round(len(list_filter(string_split(text, ' '),
                            t -> t IN $stopSql)) * 1.0
                          / greatest(len(string_split(text, ' ')), 1), 4)
                          <= 0.9),
              red AS (SELECT doc_id,
                             regexp_replace(text, '[0-9]+', '<NUM>', 'g')
                               AS text
                      FROM q),
              keep AS (SELECT doc_id, text FROM red
                       QUALIFY min(doc_id) OVER (PARTITION BY text)
                         = doc_id),
              grams AS (SELECT DISTINCT doc_id,
                               unnest(list_transform(
                                 generate_series(1,
                                   greatest(len(toks) - 2, 1)),
                                 i -> array_to_string(toks[i:i+2], ' ')))
                                 AS tok
                        FROM (SELECT doc_id,
                                string_split(text, ' ') AS toks
                              FROM keep)),
              bench AS (SELECT DISTINCT
                               unnest(list_transform(
                                 generate_series(1,
                                   greatest(len(toks) - 2, 1)),
                                 i -> array_to_string(toks[i:i+2], ' ')))
                                 AS tok
                        FROM (SELECT string_split(
                                regexp_replace(text, '[0-9]+', '<NUM>',
                                  'g'), ' ') AS toks
                              FROM documents WHERE source = 'src0')),
              shr AS (SELECT doc_id, count(*) AS shared
                      FROM grams JOIN bench USING (tok) GROUP BY 1)
              SELECT k.doc_id,
                     CAST(coalesce(s.shared, 0) AS BIGINT)
                       AS shared_shingles,
                     coalesce(s.shared, 0) >= 3 AS contaminated
              FROM keep k LEFT JOIN shr s ON s.doc_id = k.doc_id
              ORDER BY k.doc_id"""))
  )
}
