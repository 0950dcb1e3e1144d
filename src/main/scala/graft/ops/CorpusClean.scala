package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed corpus-cleaning pipeline a training-data run executes
  * before tokenization — the operators of this engine chained in their
  * canonical order (cheap row-local filters first, exact dedup next,
  * near-dedup last, because each stage shrinks the next stage's input):
  *
  *  1. quality gate: row-local ratio filters incl. repetition
  *     (distinct-token ratio) — no shuffle;
  *  2. redaction: digit-run masking (transform, not filter — before
  *     dedup so docs differing only in masked digits collapse);
  *  3. decontamination: drop docs overlapping the benchmark slice by
  *     >= k distinct shingles (shingle-keyed join);
  *  4. exact dedup: one hash aggregation on the content digest;
  *  5. near-dedup: MinHash+LSH keeper assignment, transitively resolved
  *     ([[Dedup.resolveClusters]]), non-roots dropped.
  *
  * Returns the surviving documents plus a per-stage audit frame — a
  * pipeline that silently drops data is undebuggable at 100 TB.
  */
object CorpusClean {

  final case class Config(
      minTokens: Long = 5,
      maxSymbolRatio: Double = 0.3,
      maxStopwordRatio: Double = 0.9,
      minDistinctRatio: Double = 0.0, // repetition gate (0 = off)
      redactDigits: Boolean = false,  // mask digit runs before dedup
      benchmark: Option[DataFrame] = None, // decontamination slice
      contaminationShingles: Int = 3,
      // Drop shingles appearing in more than this many TRAINING docs
      // before the contamination join. A 3-gram shared by thousands of
      // documents is boilerplate, not contamination evidence — and it
      // is also the superlinear-fanout hazard of the shingle join
      // (measured 14x cost for 5x docs on a boilerplate-heavy corpus,
      // CHANGELOG; the cap restores linearity via an anti-join over
      // the few hot keys). The default is ON (10k): at 100 TB an
      // uncapped join is a scale cliff, so safety must not depend on
      // the caller knowing this knob exists — and a shingle in >10k
      // docs carries no contamination signal at any corpus size. Set 0
      // to disable ONLY where bit-exact uncapped semantics are the
      // contract (the p1 audit entry's DuckDB oracle replays stage
      // counts with no cap; t_decontam_capped oracle-gates the capped
      // form itself).
      maxShingleDf: Long = 10000,
      minHashes: Int = 32,
      bands: Int = 8,
      jaccardThreshold: Double = 0.8,
      // false = stop after exact dedup (no MinHash pass, no near_dedup
      // audit row) — for corpora where exact collapse suffices, and for
      // the oracle-gated audit entry whose DuckDB replica ends at the
      // ANSI-expressible stages
      nearDedup: Boolean = true)

  /** @return (cleaned corpus, audit rows (stage, rows_in, rows_out)) */
  def clean(docs: DataFrame, textCol: String, idCol: String,
      config: Config = Config()): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._

    // ONE pass computes BOTH audit counts: rows are flagged (not
    // filtered) through the quality gate, cached post-redaction, and
    // n0/n1 come from a single aggregate over the cached frame — the
    // previous separate docs.count() paid one extra full scan job per
    // clean() for a number the flagged frame already holds. Downstream
    // reads filter the flag on the CACHED frame (a codegen'd predicate
    // over in-memory columns). Redacting the few rejected rows too is
    // the price; rejected fractions are small by construction.
    // The repetition term reads the fused kernel's n_distinct/n_tok
    // instead of a second split + array_distinct pass; integer inputs
    // identical to size(array_distinct(toks))/size(toks), so the
    // double division and the gate decision are bit-identical.
    val qc = graft.functions.TokenKernelFns
      .textQualityCounts(spark, col(textCol))
    val flagged = TextStats.qualityColumns(docs, textCol)
      .withColumn("__q",
        (col("n_tok") >= config.minTokens &&
          col("symbol_ratio") <= config.maxSymbolRatio &&
          col("stopword_ratio") <= config.maxStopwordRatio &&
          (qc.getField("n_distinct") / qc.getField("n_tok"))
            >= config.minDistinctRatio).cast("long"))
      .drop("n_tok", "mean_tok_len", "stopword_ratio", "symbol_ratio")
    val staged =
      (if (config.redactDigits)
        flagged.withColumn(textCol,
          regexp_replace(col(textCol), "[0-9]+", "<NUM>"))
      else flagged).persist()
    val cRow = staged.agg(count(lit(1)), sum("__q")).head()
    val (n0, n1) = (cRow.getLong(0), Option(cRow.get(1))
      .map(_.asInstanceOf[Long]).getOrElse(0L))
    // redaction is a transform, not a filter (rows_in == rows_out) —
    // run BEFORE dedup so docs differing only in masked digits collapse
    val redacted = staged.filter(col("__q") === 1L).drop("__q")

    // decontamination: drop docs sharing >= contaminationShingles
    // distinct 3-grams with the benchmark slice (shingle-keyed join).
    // The benchmark gets the SAME redaction as the training side —
    // otherwise masked digit runs would hide digit-bearing overlap
    // (a verbatim copy of a digit-heavy eval item would slip through).
    val (decon, cached) = config.benchmark match {
      case Some(bench) =>
        val benchNorm =
          if (config.redactDigits)
            bench.withColumn(textCol,
              regexp_replace(col(textCol), "[0-9]+", "<NUM>"))
          else bench
        // Shingles ride as 8-byte xxhash64 keys via the fused kernel —
        // the join/window needs IDENTITY only, and a collision would
        // fail the p1 oracle loudly. shingleHashTokens is per-doc
        // distinct, so the count per (doc, k) IS the shared count.
        val trainShingles = Dedup.shingleHashTokens(redacted, textCol, idCol, 3)
        val trainSide =
          if (config.maxShingleDf > 0) {
            // CAPPED path: benchmark membership AND the training
            // document frequency both ride ONE k-keyed window exchange
            // over the tagged union of train + bench shingles — the
            // previous distinct + hot-agg + anti-join + join chain
            // shuffled the corpus-sized shingle frame three more times
            // for the same two numbers (the t_decontaminate /
            // t_bigram_lm window rationale); sum(1 - bench) per k IS
            // the training df.
            val idType = trainShingles.schema(idCol).dataType
            val tagged = trainShingles.withColumn("bench", lit(0L))
              .unionByName(
                Dedup.shingleHashTokens(benchNorm, textCol, idCol, 3)
                  .select(lit(null).cast(idType).as(idCol),
                    col("k"), lit(1L).as("bench")))
            val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
            val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
            tagged.repartition(n, col("k"))
              .withColumn("in_bench", max("bench").over(w))
              .withColumn("train_df", sum(lit(1L) - col("bench")).over(w))
              .filter(col("bench") === 0L && col("in_bench") === 1L &&
                col("train_df") <= config.maxShingleDf)
              .select(col(idCol), col("k"))
          } else
            // UNCAPPED path (the p1 audit contract): only membership is
            // needed, and the benchmark side is EVAL-SET-SIZED by
            // construction — the one side of this operator that does
            // not scale with the corpus (the t_decontam_bloom
            // rationale) — so the corpus shingle frame never shuffles
            // at all: one broadcast inner join against the distinct
            // bench keys, then the doc-keyed count. At 100 TB this is
            // the difference between exchanging every training shingle
            // and exchanging none.
            trainShingles.join(broadcast(
              Dedup.shingleHashTokens(benchNorm, textCol, idCol, 3)
                .select("k").distinct()), "k")
        val contaminated = trainSide
          .groupBy(idCol).agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= config.contaminationShingles)
          .select(idCol)
        // persisted: the audit count plus every downstream stage
        // (exact dedup, LSH, final count) re-reads this frame — without
        // the cache the double shingle-explosion join re-executes per
        // consumer, and at 100 TB this stage dominates pipeline cost
        val kept = redacted.join(contaminated, Seq(idCol), "left_anti")
          .persist()
        (kept, Some(kept))
      case None => (redacted, None)
    }

    // ONE aggregation yields BOTH remaining audit counts — n2a (rows
    // surviving decontamination; the cache-filling action for `kept`)
    // and n2 (rows surviving exact dedup = distinct content digests,
    // exactly [[Dedup.exact]]'s survivor count since it keeps one row
    // per digest; the null-text digest group, impossible past the
    // quality gate but cheap to honor, counts via the sentinel). The
    // previous shape paid a second full barrier (`exact.count()`:
    // digest exchange + sort + window) for a number a map-side
    // partial-distinct hash agg over the just-cached frame already
    // holds — profiled round 12: the p1 entry is driver-job-floor
    // bound (18 jobs, ~1.3 s summed task time in 2.5 s wall), so
    // removing a whole action chain is the lever, not reshaping any
    // single exchange.
    val dRow = decon.agg(count(lit(1)),
      countDistinct(coalesce(sha2(col(textCol), 256), lit("")))).head()
    val (n2a, n2) = (dRow.getLong(0), dRow.getLong(1))

    val exact = Dedup.exact(decon, textCol, idCol)

    val (cleaned, nearRow) =
      if (config.nearDedup) {
        // minhashLshDedupReps: `exact` is already one row per distinct
        // content — the public entry point would re-run the digest
        // exchange + window as an idempotent no-op. The drop set is
        // the assignment's d2 column directly: every verified doc has
        // exactly one (keeper, doc) row, and the transitive-root chase
        // (resolveClusters) changes only the root column, which nothing
        // here reads — running it cost a FitSession clone plus
        // per-iteration join/persist/count jobs for an identical kept
        // frame (review find).
        val assignments = Dedup.minhashLshDedupReps(exact, textCol, idCol,
          config.minHashes, config.bands, config.jaccardThreshold)
        val kept = exact.join(assignments.select(col("d2").as(idCol)),
          Seq(idCol), "left_anti")
        val n3 = kept.count()
        (kept, Seq(("near_dedup", n2, n3)))
      } else (exact, Nil)
    // All audit counts are materialized; release the stage caches so
    // repeated clean() calls don't accumulate partitions for the
    // session lifetime. Re-materializing the returned frame after this
    // point recomputes the stages — callers that iterate over the
    // cleaned corpus should persist it themselves.
    staged.unpersist()
    cached.foreach(_.unpersist())

    val audit = (Seq(
      ("quality_filter", n0, n1),
      ("decontaminate", n1, n2a),
      ("exact_dedup", n2a, n2)
    ) ++ nearRow).toDF("stage", "rows_in", "rows_out")
    (cleaned, audit)
  }
}
