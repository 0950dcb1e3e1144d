package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), n-gram Jaccard near-dup, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact dedup is one digest-keyed exchange (min-id window) — the
  *    shuffle key is the 256-bit digest, so data skew follows duplicate
  *    clusters;
  *  - all-pairs Jaccard is quadratic and only ever run within small
  *    blocking groups (here: `source`); the 100 TB path is MinHash+LSH,
  *    where candidate generation is a band-bucket self-join whose shuffle
  *    key is (band, signature-slice) — no cross-bucket pairs are ever
  *    materialized;
  *  - SimHash reduces each document to a 64-bit signature; near-dup
  *    lookup becomes a hamming-distance predicate on longs.
  *
  * Cache contract (round-14 advice): the all-pairs family
  * ([[jaccardPairs]]/[[containmentPairs]]/[[jaccardPairsPrefix]] and
  * their `*Hashed` forms) `persist()`s its hashed long form internally
  * — both self-join sides and the verification rollup would otherwise
  * each re-run the scan+tokenize+explode lineage. The frames are
  * compact ((id, block, int64[, size]) — a fraction of the string
  * form's bytes) but session-lived: callers that score MANY corpora in
  * one session should `spark.catalog.clearCache()` (or unpersist via
  * the catalog) after materializing each result, the way the
  * Bench/Verify runners do per entry.
  */
object Dedup {

  /** Exact dedup: group by sha2(text) and keep the smallest id. Returns
    * (keep_id, dup_cnt) per distinct content. */
  def exactStats(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Exact dedup returning the surviving rows: keep the smallest id
    * per content digest, as a min() window over ONE digest-keyed
    * exchange — the aggregate + semi-join form paid a second scan of
    * the input and shuffled both join sides for the same survivor set.
    * The exchange is REPARTITION_BY_COL (no pinned N), so AQE sizes the
    * window stage to the shuffled bytes: the post-exchange work is one
    * digest sort + min window (cheap per row — the CPU-heavy per-doc
    * hashing of the x4 consumers moved into fused kernels that cost
    * milliseconds across the fixture corpus), so coalescing small
    * shuffles to few tasks removes whole 32-task stage floors, while at
    * cluster scale the advisory partition size keeps real parallelism.
    *
    * Contract: `idCol` must be unique (the documents-table invariant
    * every oracle here also assumes) — with duplicate ids, every row
    * tied at the per-digest min survives, matching the oracles' literal
    * `min(id) = id` semantics. The ingest boundary that CANNOT assume
    * unique ids (a recurring crawl re-emitting the same doc id) is
    * `streaming/CorpusIngest`, which uses a row_number keeper for a
    * strict one-survivor-per-digest guarantee instead. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("__digest", sha2(col(textCol), 256))
      .repartition(col("__digest"))
      .withColumn("__keep",
        min(col(idCol)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("__digest")))
      .filter(col(idCol) === col("__keep"))
      .drop("__digest", "__keep")

  /** Distinct whitespace-token set per doc, exploded to long form:
    * (idCol, blockCol, tok). The long form is what both the Jaccard
    * intersection join and MinHash consume. */
  def tokenSets(df: DataFrame, textCol: String, idCol: String,
      blockCol: String): DataFrame =
    graft.sources.Tables.spread(df).select(col(idCol), col(blockCol),
        explode(array_distinct(split(col(textCol), " "))).as("tok"))

  /** Distinct n-gram array over a MATERIALIZED token-array column.
    * `toks` must be an attribute (see [[shingleSets]]), not an inline
    * `split(...)`: an expression passed here lands inside the transform
    * lambda, where `slice` re-evaluates it PER SHINGLE POSITION —
    * O(tokens^2) re-tokenization per document (profiled on the bigram
    * twin of this pattern: the explode stage alone carried ~2x the
    * query's oracle time). */
  private def gramsOf(toks: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** N-gram (shingle) sets per doc in long form: (idCol, blockCol, tok)
    * where tok is the space-joined n-gram of consecutive tokens. The
    * token array is materialized by its own projection first, so the
    * per-shingle slice is an O(1) array access (see [[gramsOf]]). */
  def shingleSets(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, n: Int): DataFrame =
    graft.sources.Tables.spread(df)
      .select(col(idCol), col(blockCol),
        split(col(textCol), " ").as("__toks"))
      .select(col(idCol), col(blockCol),
        explode(gramsOf(col("__toks"), n)).as("tok"))

  /** Unblocked variant: (idCol, tok) shingles. */
  def shingleTokens(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    graft.sources.Tables.spread(df)
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol), explode(gramsOf(col("__toks"), n)).as("tok"))

  /** HASHED shingle long form, fused: (idCol, k) where k enumerates the
    * doc's distinct n-gram xxhash64 keys straight from the text — the
    * same join/window identity semantics as
    * `shingleTokens(...).select(xxhash64(tok))` (TokenKernelsSpec pins
    * the kernel bit-identical to that chain) with ZERO gram-string
    * materialization: the interpreted transform + concat_ws +
    * array_distinct shingle chain was the dominant CPU of every
    * decontamination-family stage at sf0.1. */
  def shingleHashTokens(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    graft.sources.Tables.spread(df)
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol),
        explode(graft.functions.TokenKernelFns.ngramXx64Set(
          df.sparkSession, col("__toks"), n)).as("k"))

  /** Blocked [[shingleHashTokens]]: (idCol, blockCol, k). */
  def shingleHashSets(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, n: Int): DataFrame =
    graft.sources.Tables.spread(df)
      .select(col(idCol), col(blockCol), split(col(textCol), " ").as("__toks"))
      // materialize the hash-set array once, then read it twice: nset
      // (the doc's distinct-shingle count — ROW-LOCAL, so the pair
      // scorers get both set sizes for free instead of re-aggregating
      // the exploded form and joining sizes back, round-13 verdict #3)
      // and the exploded key stream
      .select(col(idCol), col(blockCol),
        graft.functions.TokenKernelFns.ngramXx64Set(
          df.sparkSession, col("__toks"), n).as("__ks"))
      .select(col(idCol), col(blockCol),
        size(col("__ks")).cast("long").as("nset"),
        explode(col("__ks")).as("k"))

  /** Blocked HASHED token set (1-gram twin of [[shingleHashSets]]):
    * (idCol, blockCol, k) with k the distinct-token xxhash64 keys —
    * identical identity semantics to
    * `tokenSets(...).select(xxhash64(tok))` via the fused
    * [[graft.functions.TokenKernels.tokenXx64Set]] kernel. */
  def tokenHashSets(df: DataFrame, textCol: String, idCol: String,
      blockCol: String): DataFrame =
    graft.sources.Tables.spread(df)
      .select(col(idCol), col(blockCol),
        graft.functions.TokenKernelFns.tokenXx64Set(
          df.sparkSession, split(col(textCol), " ")).as("__ks"))
      // nset: row-local set size, same rationale as [[shingleHashSets]]
      .select(col(idCol), col(blockCol),
        size(col("__ks")).cast("long").as("nset"),
        explode(col("__ks")).as("k"))

  /** All-pairs Jaccard similarity >= threshold within a blocking column.
    * `sets` is the long form from tokenSets/shingleSets. Output:
    * (d1, d2, jaccard) with d1 < d2. The intersection is computed by a
    * token-equality self-join *within blocks* — the shuffle key is
    * (block, tok), so no unblocked quadratic blowup.
    *
    * Measured non-win on the dense fixture (don't re-try): pruning
    * singleton (block, token) groups before the self-join — they can
    * never contribute to an intersection — costs an extra frequency
    * aggregation + semi-join that nearly DOUBLED runtime at sf0.1
    * (3.1+3.5s -> 5.9+6.7s for the two pair queries), because on a
    * ~59%-near-dup corpus most tokens are shared. Like prefix
    * filtering ([[jaccardPairsPrefix]]), it pays off only on sparse
    * corpora. */
  /** Shared machinery of the all-pairs similarity family: the blocked
    * intersection-count join with both set sizes attached — (d1, d2, c,
    * n1, n2), d1 < d2. Joins on a 64-bit hash of the token, not the
    * token string: same intersection counts (collision odds ~n^2/2^64)
    * at a fraction of the shuffle width — shingles average tens of
    * bytes, the hash is 8. [[jaccardPairs]] and [[containmentPairs]]
    * are each one score projection + threshold over this frame. */
  private def blockedIntersection(sets: DataFrame, idCol: String,
      blockCol: String): DataFrame =
    blockedIntersectionHashed(sets.select(col(idCol),
      col(blockCol).as("blk"), xxhash64(col("tok")).as("tokh")), idCol)

  /** [[blockedIntersection]] over a PRE-HASHED long form (idCol, blk,
    * tokh) — the entry point for the fused-kernel producers
    * ([[tokenHashSets]], [[shingleHashSets]]), which never materialize
    * token/gram strings at all. */
  private def blockedIntersectionHashed(sets: DataFrame,
      idCol: String): DataFrame = {
    // persist the hashed long form: both join sides would otherwise
    // each re-run the scan + tokenize + explode lineage; the cached
    // frame is (id, block, int64) — a fraction of the string form's
    // bytes (released by the runner's clearCache, the Q36 pattern)
    val hashed = sets.persist()
    if (sets.columns.contains("nset")) {
      // fused-kernel producers ship the ROW-LOCAL set size on every
      // exploded row (8 bytes/row extra through the candidate
      // exchange), so the pair aggregate emits (c, n1, n2) in ONE pass
      // — no separate size aggregation, no two join-backs of the pair
      // frame against it (round-13 verdict #3; A/B-measured below)
      val a = hashed.select(col(idCol).as("d1"), col("blk"),
        col("tokh"), col("nset").as("n1"))
      val b = hashed.select(col(idCol).as("d2"), col("blk").as("blk2"),
        col("tokh").as("tokh2"), col("nset").as("n2"))
      a.join(b,
          col("tokh") === col("tokh2") && col("blk") === col("blk2") &&
            col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("c"),
          max("n1").as("n1"), max("n2").as("n2"))
    } else {
      // string-form path (no producer-side size): aggregate sizes from
      // the exploded form and join them back
      val sizes = hashed.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
      val a = hashed.select(col(idCol).as("d1"), col("blk"), col("tokh"))
      val b = hashed.select(col(idCol).as("d2"), col("blk").as("blk2"),
        col("tokh").as("tokh2"))
      a.join(b,
          col("tokh") === col("tokh2") && col("blk") === col("blk2") &&
            col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
        .join(sizes.select(col(idCol).as("d1"), col("n").as("n1")), "d1")
        .join(sizes.select(col(idCol).as("d2"), col("n").as("n2")), "d2")
    }
  }

  def jaccardPairs(sets: DataFrame, idCol: String, blockCol: String,
      threshold: Double): DataFrame =
    jaccardScore(blockedIntersection(sets, idCol, blockCol), threshold)

  /** [[jaccardPairs]] over a fused-kernel HASHED long form (idCol,
    * blockCol, k) from [[tokenHashSets]] / [[shingleHashSets]] —
    * identical output (the kernels are spec-pinned bit-identical to
    * the string chain + xxhash64), none of the string materialization.
    *
    * Fixture-density floor — the whole X4/X14 pair family shares
    * [[containmentPairsHashed]]'s candidate-volume bound (its scaladoc
    * has the stage decomposition and the measured non-wins). For the
    * shingle variant specifically (`x4_ngram_jaccard`, round-12
    * Profile at 32 cores): wall is 12 jobs of AQE stage
    * materialization over ~13.6 s summed task CPU — the shingle-set
    * kernel build, the (blk, k)-keyed candidate self-join, and the
    * pair rollup — so the warm ~1.4 s wall (vs DuckDB's ~0.4-0.5 s
    * single-threaded pass over the same 59%-dense fixture) is
    * per-job-floor-bound, not plan-shape-bound; candidates ≈ kept
    * pairs at this density, so no candidate scheme can prune it. On
    * sparse corpora (the 100 TB case) swap to [[jaccardPairsPrefix]],
    * which prunes candidate GENERATION. */
  def jaccardPairsHashed(hashedSets: DataFrame, idCol: String,
      blockCol: String, threshold: Double): DataFrame =
    jaccardScore(blockedIntersectionHashed(
      renamedHashed(hashedSets, idCol, blockCol), idCol), threshold)

  /** (id, blk, tokh[, nset]) projection of a hashed long form —
    * carries the producer's row-local set size through when present. */
  private def renamedHashed(hashedSets: DataFrame, idCol: String,
      blockCol: String): DataFrame = {
    val base = Seq(col(idCol), col(blockCol).as("blk"),
      col("k").as("tokh"))
    val cols =
      if (hashedSets.columns.contains("nset")) base :+ col("nset")
      else base
    hashedSets.select(cols: _*)
  }

  private def jaccardScore(inter: DataFrame, threshold: Double): DataFrame =
    inter
      .withColumn("jaccard",
        col("c").cast("double") / (col("n1") + col("n2") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))

  /** All-pairs CONTAINMENT >= threshold within a blocking column:
    * c / min(|A|,|B|) — the asymmetric near-dup test symmetric Jaccard
    * misses (a 50-token doc pasted verbatim inside a 5000-token doc has
    * J ~= 0.01 but containment 1.0; sub-document duplication is the
    * dominant contamination mode in scraped corpora). Same
    * (block, token-hash)-keyed intersection join as [[jaccardPairs]];
    * the score is emitted as floor(1e4 * c / min) — an exact integer
    * ratio, hash-stable on any engine. Output: (d1, d2, cont_e4),
    * d1 < d2. */
  def containmentPairs(sets: DataFrame, idCol: String, blockCol: String,
      threshold: Double): DataFrame =
    containmentScore(blockedIntersection(sets, idCol, blockCol), threshold)

  /** [[containmentPairs]] over the fused-kernel HASHED long form (the
    * [[jaccardPairsHashed]] rationale).
    *
    * Fixture-density floor (round-12 Profile, the q55 two-regime
    * precedent): x14 at sf0.1 measures ~3× the DuckDB oracle and that
    * ratio is CANDIDATE-VOLUME-bound, not plan-shape-bound. The
    * stage decomposition (tools/Profile, 8 cores, wall 2.2 s): ONE
    * stage — the (blk, tokh)-keyed candidate join + partial pair agg —
    * carries 5.5 s of the 6.9 s total task CPU, because the ~59%
    * near-dup-dense fixture joins 116k hashed token rows out to
    * 11.2M candidate rows (96× fan-out; 620 (source, tok) groups,
    * avg group size ~190) that collapse to 622k distinct pairs, i.e.
    * candidates ≈ scored pairs — no candidate scheme can prune what
    * the result itself keeps. The remaining wall is the hashed-form
    * cache fill (~1 s CPU) plus ~12 AQE stage-materialization jobs at
    * the fixture's per-job floor. Measured non-wins at this density:
    * the grouped pair-explosion rewrite (5-7× worse, see
    * [[blockedIntersection]]'s scaladoc), singleton-group pruning
    * (~2× worse), and a shuffled-hash-join preference
    * (`preferSortMergeJoin=false`: identical stage profile, wall
    * unchanged). On SPARSE corpora — real crawls, where candidates ≫
    * results — the swap is [[jaccardPairsPrefix]]'s PPJoin prefix
    * filtering (exact, same output), which prunes candidate
    * GENERATION rather than the result. */
  def containmentPairsHashed(hashedSets: DataFrame, idCol: String,
      blockCol: String, threshold: Double): DataFrame =
    containmentScore(blockedIntersectionHashed(
      renamedHashed(hashedSets, idCol, blockCol), idCol), threshold)

  private def containmentScore(inter: DataFrame,
      threshold: Double): DataFrame =
    inter
      .filter(col("c") * 10000L >= least(col("n1"), col("n2"))
        * lit(math.round(threshold * 10000))) // round, not truncate: 0.35
        // binary-represents as 0.34999..., and .toLong would silently
        // loosen the gate to 3499e-4
      .select(col("d1"), col("d2"),
        expr("c * 10000 DIV least(n1, n2)").as("cont_e4"))

  /** All-pairs Jaccard >= threshold with PPJoin-style PREFIX FILTERING —
    * exact (identical output to [[jaccardPairs]]), but the self-join
    * runs only over each doc's prefix: tokens ordered rarest-first under
    * a block-consistent total order (frequency asc, hash asc); any pair
    * with J >= t must share a token among its first
    * |d| - ceil(t*|d|) + 1 (Bayardo et al., "Scaling Up All Pairs").
    * Hot tokens sort last and rarely enter a prefix, so the quadratic
    * (block, token) join blowup collapses to near-linear candidates,
    * each verified exactly via one array_intersect.
    *
    * Choose by corpus density: on a sparse corpus (the realistic 100 TB
    * case — few true near-dups) this wins asymptotically; on the
    * near-dup-dense fixture (~59% of pairs qualify) candidates equal
    * results, so plain [[jaccardPairs]] wins on constant factors
    * (measured at sf0.1: 3.4s plain vs 3.8s prefix).
    */
  def jaccardPairsPrefix(sets: DataFrame, idCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSize = Window.partitionBy(col(idCol))
    jaccardPairsPrefixHashed(
      sets.select(col(idCol), col(blockCol),
          xxhash64(col("tok")).as("k"))
        .withColumn("nset", count(lit(1)).over(wSize)),
      idCol, blockCol, threshold)
  }

  /** [[jaccardPairsPrefix]] over the fused-kernel HASHED long form
    * (idCol, blockCol, k, nset) from [[tokenHashSets]] /
    * [[shingleHashSets]]. The producer's row-local `nset` replaces the
    * per-doc size window the string form pays, and the hashed frame is
    * persisted once for its three consumers (frequency aggregate,
    * candidate self-join, verification rollup) instead of re-running
    * the tokenize+explode lineage for each. */
  def jaccardPairsPrefixHashed(hashedSets: DataFrame, idCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = hashedSets.select(col(idCol), col(blockCol).as("blk"),
      col("k").as("tokh"), col("nset")).persist()
    val freq = hashed.groupBy("blk", "tokh").agg(count(lit(1)).as("freq"))
    val wRank = Window.partitionBy(col(idCol))
      .orderBy(col("freq").asc, col("tokh").asc)
    val prefix = hashed.join(freq, Seq("blk", "tokh"))
      .withColumn("pos", row_number().over(wRank))
      .filter(col("pos") <=
        col("nset") - ceil(lit(threshold) * col("nset")) + 1)
    val a = prefix.select(col(idCol).as("d1"), col("blk"), col("tokh"))
    val b = prefix.select(col(idCol).as("d2"), col("blk").as("blk2"),
      col("tokh").as("tokh2"))
    val cands = a.join(b, col("tokh") === col("tokh2") &&
        col("blk") === col("blk2") && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    // verification over the SAME persisted hashed frame: per-doc
    // hash-set arrays, one array_intersect per candidate
    jaccardVerify(cands,
      hashed.groupBy(col(idCol)).agg(collect_set(col("tokh")).as("toks")),
      idCol, threshold)
  }

  /** The exact-Jaccard verification tail shared by [[jaccardOnPairs]]
    * (MinHash-LSH) and [[jaccardPairsPrefixHashed]] — ONE copy of the
    * numerically sensitive score algebra (round-14 review find: the
    * two paths had diverged into near-verbatim copies). `toks` is the
    * per-doc hashed-set rollup (idCol, toks: array<long>). */
  private def jaccardVerify(pairs: DataFrame, toks: DataFrame,
      idCol: String, threshold: Double): DataFrame =
    pairs
      .join(toks.select(col(idCol).as("d1"), col("toks").as("t1")), "d1")
      .join(toks.select(col(idCol).as("d2"), col("toks").as("t2")), "d2")
      .withColumn("c", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("jaccard", col("c").cast("double")
        / (size(col("t1")) + size(col("t2")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))

  /** Exact Jaccard computed ONLY for the given candidate pairs — the
    * verification half of MinHash+LSH dedup. Token sets are first rolled
    * up to one array per doc (sorted, so set ops are mergeable), then
    * joined onto the pairs by doc id: per-candidate cost is one
    * array_intersect, and no non-candidate pair is ever scored. This is
    * the 100 TB path: work scales with |candidates|, not |docs|^2.
    */
  def jaccardOnPairs(pairs: DataFrame, sets: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    jaccardVerify(pairs,
      sets.groupBy(col(idCol))
        .agg(collect_set(xxhash64(col("tok"))).as("toks")),
      idCol, threshold)

  /** MinHash signature per doc: numHashes independent min-hashes of the
    * token set. Hash family: xxhash64(seed_i, tok) — 64-bit, engine-side
    * deterministic. Output: (idCol, sig array<long>). One shuffle
    * (groupBy id); signatures are numHashes*8 bytes per doc.
    */
  def minhashSignatures(sets: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("tok"))).as(s"h$i"))
    sets.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash signatures via the single-buffer imperative aggregate
    * ([[graft.functions.MinHashAgg]]): identical output to
    * [[minhashSignatures]] (same chained xxhash64 family, asserted in
    * MinHashAggSpec), but one aggregate with a long[k] buffer instead
    * of k independent min columns. */
  def minhashSignaturesAgg(sets: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val spark = sets.sparkSession
    sets.groupBy(col(idCol))
      .agg(graft.functions.MinHashAgg
        .minhashAgg(spark, col("tok"), numHashes).as("sig"))
  }

  /** LSH banding: split the `numHashes`-long signature into `bands`
    * bands; docs sharing any band bucket are candidates. Returns
    * candidate pairs (d1, d2), dedup'd. The self-join key is
    * (band index, band-slice hash): only docs whose band collides ever
    * meet, which is what makes this the 100 TB path.
    */
  def lshCandidates(sigs: DataFrame, idCol: String, bands: Int,
      numHashes: Int): DataFrame = {
    val rows = bucketRows(sigs, idCol, bands, numHashes)
    val a = rows.select(col(idCol).as("d1"), col("band"), col("bucket"))
    val b = rows.select(col(idCol).as("d2"), col("band").as("band2"),
      col("bucket").as("bucket2"))
    a.join(b, col("band") === col("band2") && col("bucket") === col("bucket2")
        && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Long-form (id, band, bucket) rows — the LSH shuffle key. */
  private def bucketRows(sigs: DataFrame, idCol: String, bands: Int,
      numHashes: Int): DataFrame = sigs
    .select(col(idCol), posexplode(bandBuckets(col("sig"), bands, numHashes)))
    .select(col(idCol), col("pos").as("band"), col("col").as("bucket"))

  /** Bucket id per band: xxhash64 over the band's signature slice. */
  private def bandBuckets(sig: Column, bands: Int, numHashes: Int): Column = {
    val r = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      // fold modulo a prime: keeps every intermediate < ~1e15, safe
      // under ANSI overflow checking
      xxhash64(lit("band"), b, aggregate(
        slice(sig, b * lit(r) + lit(1), lit(r)), lit(0L),
        (acc, x) => (acc * 1000003L + pmod(x, lit(1000000007L))) % 1000000007L)))
  }

  /** Full MinHash+LSH near-dup pipeline with the exact-dedup pre-pass
    * that makes it viable on duplicate-heavy corpora (the 100 TB design):
    *
    *  1. collapse byte-identical texts to one representative (min id) —
    *     without this, an m-way exact-dup cluster floods every LSH band
    *     with m^2/2 candidate pairs before dedup even starts;
    *  2. MinHash signatures over representatives only;
    *  3. banded LSH candidate generation (global, unblocked);
    *  4. exact-Jaccard verification of ONLY the candidate pairs.
    *
    * Output: (d1, d2, jaccard) over representative ids, d1 < d2.
    * Work scales with |distinct texts| + |candidates|, never |docs|^2.
    */
  def minhashLshNearDups(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val reps = exact(df, textCol, idCol)
    val sets = reps.select(col(idCol),
      explode(array_distinct(split(col(textCol), " "))).as("tok"))
    val sigs = minhashSignaturesAgg(sets, idCol, numHashes)
    val cands = lshCandidates(sigs, idCol, bands, numHashes)
    jaccardOnPairs(cands, sets, idCol, threshold)
  }

  /** MinHash+LSH dedup ASSIGNMENTS — the form that stays linear on a
    * near-duplicate-dense corpus, where emitting all near-dup pairs is
    * Θ(n²) by definition (a 59%-dense synthetic corpus produces 7.4M
    * pairs from 5k docs; no candidate pruning can shrink an output).
    *
    * Instead of pairs-within-bucket, each doc is assigned the MINIMUM id
    * it shares any band bucket with (one `min` per bucket + one per doc —
    * linear, no self-join), then that single (keeper, doc) pair per doc
    * is verified with exact Jaccard. Docs whose best bucket-neighbor
    * fails verification keep themselves. One union-find hop; full
    * transitive clustering would iterate this assignment to a fixpoint.
    *
    * Steps: exact-dedup pre-pass → signatures over representatives →
    * per-bucket min → per-doc min keeper → verify that pair exactly.
    * Output: (d1 = keeper, d2 = doc, jaccard) for verified d1 < d2.
    */
  /** Shared LSH keeper assignment: each doc's keeper is the smallest id
    * sharing ANY band bucket with it — the per-bucket min as a window
    * over one pinned (band, bucket)-keyed exchange (the agg + join-back
    * form paid a second shuffle of the band frame for the same number),
    * then a per-doc min. Output LINEAR in docs: (d1 = keeper, d2 = doc),
    * keeper < doc. */
  private[graft] def lshKeepers(buckets: DataFrame, idCol: String): DataFrame = {
    // No explicit repartition pin: the window's required distribution
    // inserts the (band, bucket) exchange itself, and leaving it
    // ENSURE_REQUIREMENTS lets AQE coalesce — the band frame is thin
    // (docs x bands rows of three longs) and its sort keys are longs,
    // so the coalesce-to-few-tasks failure mode the pinned queries
    // guard against (CPU-heavy string window sorts serializing) does
    // not apply; at cluster scale the advisory size keeps real
    // parallelism. Profiled at sf0.1 the pinned form paid two full
    // 32-task stage floors on a 1.2 MiB frame.
    buckets
      .withColumn("bmin",
        min(col(idCol)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket")))
      .groupBy(col(idCol)).agg(min(col("bmin")).as("keep"))
      .filter(col("keep") < col(idCol))
      .select(col("keep").as("d1"), col(idCol).as("d2"))
  }

  def minhashLshDedup(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame =
    minhashLshDedupReps(exact(df, textCol, idCol), textCol, idCol,
      numHashes, bands, threshold)

  /** [[minhashLshDedup]] minus the exact pre-pass, for callers whose
    * input is ALREADY one row per distinct content (CorpusClean runs
    * [[exact]] as its own audited stage — re-running it here paid a
    * second corpus-wide sha2 + digest exchange + window for an
    * idempotent no-op). */
  private[graft] def minhashLshDedupReps(reps: DataFrame, textCol: String,
      idCol: String, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val sets = reps.select(col(idCol),
      explode(array_distinct(split(col(textCol), " "))).as("tok"))
    // One WRITTEN aggregation yields both per-doc artifacts — the
    // MinHash signature (banding input) and the hashed token set
    // (exact-Jaccard verify input). NOTE the plan does not fully share
    // it: Catalyst column pruning splits the aggregate into a sig-only
    // copy and a sig+toks copy, so the token long-form still crosses
    // the wire twice (profiled at sf0.1 — the finding that motivated
    // [[minhashLshDedupPortable]]'s expression-form redesign, where
    // every consumer prunes ONE digest-keyed exchange instead).
    val perDoc = sets
      .select(col(idCol), col("tok"), xxhash64(col("tok")).as("tk"))
      .groupBy(col(idCol))
      .agg(graft.functions.MinHashAgg
          .minhashAgg(reps.sparkSession, col("tok"), numHashes).as("sig"),
        collect_set(col("tk")).as("toks"))
    val buckets = bucketRows(perDoc.select(col(idCol), col("sig")),
      idCol, bands, numHashes)
    verifyPairs(lshKeepers(buckets, idCol), perDoc, idCol, threshold)
  }

  /** Exact-Jaccard verification against a per-doc hashed-token-array
    * frame (idCol, toks) — [[jaccardOnPairs]] with the groupBy already
    * done, so callers that aggregate per doc anyway don't pay a second
    * token-frame exchange. */
  private def verifyPairs(pairs: DataFrame, perDoc: DataFrame,
      idCol: String, threshold: Double): DataFrame =
    pairs
      .join(perDoc.select(col(idCol).as("d1"), col("toks").as("t1")), "d1")
      .join(perDoc.select(col(idCol).as("d2"), col("toks").as("t2")), "d2")
      .withColumn("c", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("jaccard", col("c").cast("double")
        / (size(col("t1")) + size(col("t2")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))

  /** [[minhashSignatures]] on the engine-portable md5-affine family
    * ([[graft.functions.PortableHash]]): one md5 per token staged ONCE,
    * then k affine transforms — same plan shape (k codegen'd `min`
    * columns, one shuffle), but the signatures are reproducible by any
    * engine with RFC-1321 md5, which is what upgrades the x4_minhash_lsh
    * registry entry from a rows-only check to a full DuckDB hash oracle.
    */
  def minhashSignaturesPortable(sets: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    import graft.functions.PortableHash
    val w = (PortableHash.md5w(col("tok")) % lit(PortableHash.M)).as("w")
    val mins = (0 until numHashes).map(i =>
      min((lit(PortableHash.a(i)) * col("w") + lit(PortableHash.b(i)))
        % lit(PortableHash.P)).as(s"h$i"))
    sets.select(col(idCol), w)
      .groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Portable band bucket: plain fold of the band's signature slice
    * modulo 1e9+7 — [[bandBuckets]] without the engine-side xxhash64
    * wrap, so an oracle can replay it with a list fold. Signature
    * values are already < 2^31, so acc*1000003 + x < 2^51: overflow-safe
    * on engines that check. */
  private def bandBucketsPortable(sig: Column, bands: Int,
      numHashes: Int): Column = {
    val r = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      aggregate(slice(sig, b * lit(r) + lit(1), lit(r)), lit(0L),
        (acc, x) => (acc * 1000003L + x) % 1000000007L))
  }

  private[graft] def bucketRowsPortable(sigs: DataFrame, idCol: String,
      bands: Int, numHashes: Int): DataFrame = sigs
    .select(col(idCol),
      posexplode(bandBucketsPortable(col("sig"), bands, numHashes)))
    .select(col(idCol), col("pos").as("band"), col("col").as("bucket"))

  /** [[minhashLshDedup]] on the portable family — identical semantics
    * (exact pre-pass → signatures → per-bucket min → per-doc min keeper
    * → exact-Jaccard verify), differing in the hash family and band
    * fold (both replayable in ANSI SQL) and in PLAN SHAPE: the per-doc
    * signature and hashed token set are pure ARRAY EXPRESSIONS over the
    * deduped text — `array_min(transform(...))` per seed instead of
    * `min(...)` over an exploded token long-form — so the whole
    * explode → groupBy(id) exchange of [[minhashLshDedup]] disappears.
    * Same integers (min over the same per-token affine values, distinct
    * token hashes in both forms), two fewer shuffles of the largest
    * frame in the pipeline: profiling at sf0.1 showed Catalyst's column
    * pruning additionally SPLITTING the shared groupBy(id) aggregate
    * into a sig-only copy (banding branch) and a sig+toks copy (verify
    * branch) — the token long-form crossed the wire twice. In the
    * expression form every consumer is a differently-pruned projection
    * over ONE reused digest-keyed exchange, and pruning works for us:
    * the verify branches compute only xxhash64 per token, the banding
    * branch only the md5-affine mins.
    *
    * The exact pre-pass stays [[exact]]'s repartition + window, NOT a
    * digest-keyed `agg(min(id), first(text))`: any aggregate with a
    * string buffer (first/min on text) falls off HashAggregate onto
    * SortAggregate, and its pre-shuffle partial sorts the raw scan —
    * measured as a 0.5 s single-task sort on the one-row-group fixture
    * (and a full extra sort of the corpus at scale). The window form
    * sorts AFTER the exchange, across the full shuffle parallelism. */
  def minhashLshDedupPortable(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    // Signature and token set via the FUSED kernels ([[graft.functions
    // .MinHashSig]] / [[graft.functions.TokenXx64Set]]): one JVM loop
    // per doc instead of numHashes interpreted transform() lambdas per
    // token — profiled at sf0.1 the HOF form burned ~9 s of summed task
    // CPU across the two per-doc stages for ~0.1 s of real arithmetic.
    // TokenKernelsSpec pins both kernels bit-identical to the HOF
    // columns (distinct is dropped before minhash_sig because min() is
    // idempotent under duplicate tokens; token_xx64_set dedups
    // internally in first-occurrence order).
    val spark = df.sparkSession
    // Both consumers below are differently-pruned projections over the
    // ONE digest-keyed exchange from [[exact]] — computing a kernel per
    // branch is deliberate: each fused kernel costs ~milliseconds of
    // CPU across the whole fixture corpus (microbenched: 62 ms bands +
    // 28 ms toks single-threaded over 5000 docs), while making the
    // branches share a materialized kernel frame either breaks exchange
    // reuse (per-branch column pruning canonicalizes to two DIFFERENT
    // exchanges, re-running the map side twice — measured +0.4 s) or
    // costs a persist the runner must manage.
    val reps = exact(df.select(col(idCol), col(textCol)), textCol, idCol)
    val toksArr = reps
      .select(col(idCol), split(col(textCol), " ").as("__t"))
    val perDoc = toksArr.select(col(idCol),
      graft.functions.TokenKernelFns
        .tokenXx64Set(spark, col("__t")).as("toks"))
    // banding branch: token array -> band bucket values in ONE kernel
    // (signature mins + polynomial band fold fused; the separate
    // sig-array + aggregate(slice(...)) form re-paid an interpreted
    // fold per band per doc)
    val buckets = toksArr
      .select(col(idCol), posexplode(graft.functions.TokenKernelFns
        .minhashBandBuckets(spark, col("__t"), numHashes, bands)))
      .select(col(idCol), col("pos").as("band"), col("col").as("bucket"))
    verifyPairs(lshKeepers(buckets, idCol), perDoc, idCol, threshold)
  }

  /** LSH calibration report: for every candidate keeper pair of
    * [[minhashLshDedupPortable]] — UNfiltered by the verify threshold,
    * since the below-threshold pairs are the interesting ones — the
    * signature-ESTIMATED Jaccard (matching components / numHashes)
    * beside the exact token Jaccard, both e6 fixed-point BIGINT DIV,
    * plus the signed error. "Measure your sketch before trusting it":
    * the table that says whether numHashes/bands are sized for THIS
    * corpus before a 100 TB run commits to them (estimator sd is
    * ~sqrt(j(1-j)/k) — err rows outside a few sd flag a hash-family or
    * banding bug, which is exactly how the oracle gate consumes it).
    * Plan: the dedup path's one digest-keyed exchange and fused
    * kernels, with the signature array riding the same per-doc
    * projection the token set already takes into the pair joins. */
  def minhashCalibration(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    val spark = df.sparkSession
    val reps = exact(df.select(col(idCol), col(textCol)), textCol, idCol)
    val toksArr = reps
      .select(col(idCol), split(col(textCol), " ").as("__t"))
    val perDoc = toksArr.select(col(idCol),
      graft.functions.TokenKernelFns
        .tokenXx64Set(spark, col("__t")).as("toks"),
      graft.functions.TokenKernelFns
        .minhashSig(spark, col("__t"), numHashes).as("sig"))
    val buckets = toksArr
      .select(col(idCol), posexplode(graft.functions.TokenKernelFns
        .minhashBandBuckets(spark, col("__t"), numHashes, bands)))
      .select(col(idCol), col("pos").as("band"), col("col").as("bucket"))
    lshKeepers(buckets, idCol)
      .join(perDoc.select(col(idCol).as("d1"), col("toks").as("t1"),
        col("sig").as("s1")), "d1")
      .join(perDoc.select(col(idCol).as("d2"), col("toks").as("t2"),
        col("sig").as("s2")), "d2")
      .withColumn("m",
        size(filter(zip_with(col("s1"), col("s2"), (a, b) => a === b),
          x => x)))
      .withColumn("c", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("u", size(col("t1")) + size(col("t2")) - col("c"))
      .select(col("d1"), col("d2"),
        expr(s"1000000L * m DIV $numHashes").as("est_e6"),
        expr("1000000L * c DIV u").as("exact_e6"))
      .withColumn("err_e6", col("est_e6") - col("exact_e6"))
  }

  /** Portable SimHash: the 64-bit signature as two 32-bit planes voted
    * by the first and second words of each token's md5 (an oracle can
    * rebuild both words from hex substrings, where xxhash64 is engine-
    * internal). Same plan shape as [[simhash]] — one staged md5 per
    * token, 64 codegen'd `sum` columns, one shuffle. Output:
    * (idCol, simhash) with the planes packed `hi << 32 | lo` (shiftleft
    * is a bitwise op — no ANSI overflow check to trip on bit 31). */
  def simhashPortable(sets: DataFrame, idCol: String): DataFrame = {
    val spark = sets.sparkSession
    val hex = md5(col("tok"))
    // pack the two md5 words as hi << 32 | lo: bit j of the packed long
    // IS lo-plane bit j (j < 32) / hi-plane bit j-32 — so the raw-bits
    // SimHashAgg buffer votes exactly the two planes the previous 64
    // independent sum(when(...)) aggregate columns computed, at one
    // buffer update per token (SimHashAggSpec pins the equivalence)
    val packed = shiftleft(conv(substring(hex, 9, 8), 16, 10)
        .cast("long"), 32)
      .bitwiseOR(conv(substring(hex, 1, 8), 16, 10).cast("long"))
    sets.select(col(idCol), packed.as("w"))
      .groupBy(col(idCol))
      .agg(graft.functions.SimHashAgg
        .simhashAgg(spark, col("w")).as("simhash"))
  }

  /** [[simhashPortable]] fused row-local: the whole signature — token
    * dedup, two md5 words per token, 64-bit voting — computed per doc
    * in one kernel loop ([[graft.functions.SimHashMd5Sig]]), straight
    * from the text column. Bit-identical output (SimHashAggSpec pins
    * it against the exploded+aggregated form on the fixture corpus),
    * but ZERO exchanges: the exploded form shuffles every (doc, token)
    * row into the aggregate, this one never leaves the scan task —
    * at 100 TB that is the difference between a corpus-sized token
    * shuffle and none. Output: (idCol, simhash). */
  def simhashPortableFused(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    // null-text filter: the exploded form DROPS null-text docs (a null
    // token array explodes to zero rows, so no agg group forms), while
    // the kernel would emit a (id, NULL) row for them — filtering keeps
    // the advertised bit-identical row-set equivalence on corpora WITH
    // null text, not just the fixture
    graft.sources.Tables.spread(docs)
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.TokenKernelFns.simhashMd5Sig(docs.sparkSession,
          split(col(textCol), " ")).as("simhash"))

  /** Resolve keeper ASSIGNMENT CHAINS to final cluster roots by pointer
    * jumping: `assign` is (d1 = keeper, d2 = doc) from
    * [[minhashLshDedup]]; when c's keeper b is itself assigned to a,
    * c must land on a. Each iteration replaces every root by its own
    * root (path halving), converging in O(log chain-depth) iterations —
    * the iterative-join pattern for connected components without a
    * graph library. Each iteration's result is persisted and the
    * previous one released, so lineage stays one join deep.
    * Output: (doc, root) for every doc that ends up re-rooted.
    *
    * Thread-safe with concurrent queries on the caller's session: the
    * AQE toggle and the loop's partition scoping live on a
    * [[graft.FitSession]] clone, never on the caller's conf — the same
    * contract as [[KMeans.fit]] and [[PageRank.run]]
    * (SessionIsolationSpec probes a concurrent query mid-loop).
    */
  def resolveClusters(assign: DataFrame): DataFrame = {
    // AQE OFF for the duration of the loop (on the clone): every
    // iteration joins two CACHED, stats-known frames, and AQE's
    // per-stage materialization turns each tiny join into 3 extra
    // driver round-trips — profiled at sf0.1: 34 jobs / 4.3-8.6 s with
    // AQE vs 11 jobs / 3.0-3.4 s without, identical plans otherwise.
    // Runtime re-planning buys nothing here: the join sides' sizes are
    // exact (in-memory cache stats), so the static planner already
    // makes the broadcast decision AQE would make. Contrast q45
    // (PageRank), where the rank frame is NOT cached and AQE's runtime
    // broadcast is a measured win — the toggle is per-operator, scoped
    // to execution inside this method, never a session default.
    val caller = assign.sparkSession
    val fit = graft.FitSession.aqeOff(caller)
    val out = resolveClustersLoop(graft.FitSession.rebind(assign, fit))
    // persisted + counted under the clone; caller-side actions on the
    // rebound frame read the shared cache
    graft.FitSession.rebind(out, caller)
  }

  private def resolveClustersLoop(assign: DataFrame): DataFrame = {
    val spark = assign.sparkSession
    var cached = assign.select(col("d2").as("doc"), col("d1").as("root"))
      .persist()
    // The cache-filling count doubles as the exact statistic for
    // partition sizing (the PageRank/q51 pattern): the assignment
    // frame is linear in docs but far smaller than the corpus, and
    // with AQE off nothing coalesces its inherited partitioning — at
    // sf0.1 every iteration's scan of the ~400-row cache paid ~32
    // near-empty tasks of scheduling + deserialization floor. The
    // narrow merge is bounded by the session setting, so a
    // billion-assignment cluster run still fans out. All iteration
    // joins are static broadcasts over cached stats (no exchange), so
    // the coalesced width carries through every subsequent iteration.
    val nAssign = cached.count()
    val sessPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = math.max(1, math.min(sessPart.toLong,
      nAssign / 250000L + 1L).toInt)
    var m = cached.coalesce(p)
    var changed = true
    while (changed) {
      val r = m.select(col("doc").as("r_doc"), col("root").as("r_root"))
      val next = m.join(r, col("root") === col("r_doc"), "left")
        .select(col("doc"),
          coalesce(col("r_root"), col("root")).as("root"),
          (coalesce(col("r_root"), col("root")) =!= col("root"))
            .as("moved"))
        .persist()
      // ONE action per iteration: the count(when) both materializes the
      // persisted frame (so the parent can be released) and answers the
      // convergence probe — count never returns null on empty input
      changed = next.agg(count(when(col("moved"), lit(1))))
        .head().getLong(0) > 0
      cached.unpersist()
      cached = next
      m = next.select("doc", "root")
    }
    // the RETURNED frame must itself hold the cache entry: unpersist is
    // non-cascading, so handing back a bare projection over the cached
    // iteration would make the caller's unpersist() a silent no-op and
    // leak the final cluster map (one extra materialization, loop-total)
    val out = m.persist()
    out.count()
    cached.unpersist()
    out
  }

  /** SimHash: 64-bit signature; bit j is the sign of the sum over tokens
    * of (+1/-1) at bit j of xxhash64(tok). One hash aggregation with 64
    * codegen'd sum columns — no UDF, no per-bit shuffle.
    * Output: (idCol, simhash long).
    */
  def simhash(sets: DataFrame, idCol: String): DataFrame = {
    val h = xxhash64(col("tok"))
    val aggs = (0 until 64).map(j =>
      sum(when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"s$j"))
    // distinct powers of two: sum == bitwise OR, no carries
    val bits = (0 until 64).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    sets.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), bits.reduce(_ + _).as("simhash"))
  }

  /** SimHash signatures via the single-buffer imperative aggregate
    * ([[graft.functions.SimHashAgg]]): identical output to [[simhash]]
    * (same xxhash64 bit votes, asserted in SimHashAggSpec), but one
    * hash + one 64-counter update per token instead of 64 independent
    * `sum(when(...))` aggregate columns each re-hashing the token. */
  def simhashAgg(sets: DataFrame, idCol: String): DataFrame = {
    val spark = sets.sparkSession
    sets.groupBy(col(idCol))
      .agg(graft.functions.SimHashAgg
        .simhashAgg(spark, col("tok")).as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** All pairs with simhash hamming distance <= maxDist — EXACT result
    * via pigeonhole banding, never an all-pairs loop: the 64-bit
    * signature splits into (maxDist+1) bands, and any pair within
    * maxDist bits differs in at most maxDist bands, so at least one
    * band matches exactly. Candidates come from an equi-join on
    * (band index, band bits) — the same shuffle shape as MinHash LSH —
    * then the full hamming predicate verifies. A naive
    * `a.join(b, hamming(h1,h2) <= k)` plans as a broadcast nested loop:
    * O(n^2) comparisons regardless of how few pairs qualify.
    * Input: (idCol, simhash) from [[simhash]]. Output: (d1, d2, dist).
    */
  def simhashNearDupPairs(sigs: DataFrame, idCol: String,
      maxDist: Int): DataFrame = {
    val bands = maxDist + 1
    val width = 64 / bands
    // band b = bits [b*width, (b+1)*width); the last band absorbs the
    // remainder bits so all 64 participate
    val bandBits = (0 until bands).map { b =>
      val w = if (b == bands - 1) 64 - b * width else width
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(col("simhash"), b * width).bitwiseAND(mask)
    }
    val exploded = sigs.select(col(idCol), col("simhash"),
        posexplode(array(bandBits: _*)))
      .select(col(idCol), col("simhash"), col("pos").as("band"),
        col("col").as("bandval"))
    val a = exploded.select(col(idCol).as("d1"), col("simhash").as("h1"),
      col("band"), col("bandval"))
    val b = exploded.select(col(idCol).as("d2"), col("simhash").as("h2"),
      col("band").as("band2"), col("bandval").as("bandval2"))
    // emit each qualifying pair from its FIRST matching band only (all
    // earlier bands must differ) — exact dedup with zero extra shuffle,
    // where a .distinct() would re-shuffle every candidate pair
    val xor = col("h1").bitwiseXOR(col("h2"))
    def bandDiffers(j: Int): Column = {
      val w = if (j == bands - 1) 64 - j * width else width
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(xor, j * width).bitwiseAND(mask) =!= 0L
    }
    val firstMatch = (0 until bands).map { bnd =>
      (col("band") === bnd) &&
        (0 until bnd).map(bandDiffers).foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    a.join(b, col("band") === col("band2") &&
        col("bandval") === col("bandval2") && col("d1") < col("d2"))
      .filter(hamming(col("h1"), col("h2")) <= maxDist && firstMatch)
      .select(col("d1"), col("d2"),
        hamming(col("h1"), col("h2")).cast("long").as("dist"))
  }

  /** Duplicate-span SCRUBBING (RefinedWeb-style; the p11 entry's
    * plan): re-emit every document with its
    * duplicated content-defined chunks removed — a chunk occurring in
    * >= 2 distinct docs survives only at its global canonical owner
    * (min (id, chunk_idx)); kept chunks are stitched back in position
    * order, with the scrubbed token count reported. Document TEXT
    * never crosses the content-keyed exchange: the occurrence frame
    * ships (id, idx, 32-byte digest) only, ownership resolves on
    * digests, and the rebuild re-chunks the original row LOCALLY (the
    * `cdc_chunks` kernel is deterministic — re-deriving chunks trades
    * CPU for never shuffling the corpus by content hash). The per-doc
    * drop list is linear in scrubbed occurrences (broadcasts under
    * AQE; worst case ONE id-keyed text exchange — the floor any
    * corpus rewrite pays). Output: (idCol, text_scrubbed,
    * n_toks_scrubbed); dup-free corpora round-trip byte-identically. */
  def scrubDupSpans(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val spark = df.sparkSession
    def chunks = graft.functions.TokenKernelFns
      .cdcChunks(spark, col(textCol))
    // No spread() on this frame (measured wash, round 14): fanning the
    // two linear kernel passes to 8 tasks saved exactly what the added
    // round-robin text exchange cost at sf0.1 (0.94 s -> 0.93 s warm).
    val docs = df.select(col(idCol), col(textCol))
    val occ = docs
      .select(col(idCol), posexplode(chunks))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        md5(col("col")).as("h"),
        size(split(col("col"), " ")).cast("long").as("n_toks"))
    // Owners ride a PARTIAL-AGGREGATED h exchange (map-side combine on
    // the digest, so only per-partition aggregates shuffle) and come
    // back as a broadcast; the occurrence frame itself NEVER shuffles —
    // re-deriving occ for the join side costs one more linear kernel
    // pass, which is the right trade at scale (a windowed single-pass
    // variant that shuffled the full occurrence frame by h measured
    // 6.5 s vs this shape's ~5 s at 10x but REGRESSED 17 -> 31 s at
    // 50x — the occ shuffle+sort grows with the corpus; the kernel
    // recompute stays scan-bandwidth-bound). min(id) != max(id) is
    // exactly ">= 2 distinct docs" without countDistinct's two-phase
    // expand (profiled: the expand added ~4 AQE stage floors here).
    val owners = occ.groupBy("h")
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("own"),
        min(col(idCol)).as("lo"), max(col(idCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .select(col("h"), col("own").getField(idCol).as("o_doc"),
        col("own").getField("chunk_idx").as("o_idx"))
    val drops = occ.join(owners, "h")
      .filter(!(col(idCol) === col("o_doc") &&
        col("chunk_idx") === col("o_idx")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("chunk_idx"))).as("drop_idx"),
        sum("n_toks").as("n_scr"))
    docs.join(drops, Seq(idCol), "left")
      .select(col(idCol),
        array_join(filter(chunks,
          (_, i) => !array_contains(
            coalesce(col("drop_idx"), array().cast("array<bigint>")),
            i.cast("long"))), " ").as("text_scrubbed"),
        coalesce(col("n_scr"), lit(0L)).as("n_toks_scrubbed"))
  }
}
