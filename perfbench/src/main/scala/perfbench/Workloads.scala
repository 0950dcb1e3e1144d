package perfbench

import graft.queries.{CorpusOps, Registry, SimilarityOps, TextOps}

/** What a benchmark run executes, derived from the engine's registry.
  *
  * Every registry entry belongs to exactly one class:
  *  - `train`: the rows-only entries (no DuckDB oracle) — the trainers
  *    and the LSTM forward pass;
  *  - `corpus`: the TextOps, SimilarityOps and CorpusOps entries;
  *  - `sql`: everything else.
  * `stream` is not a registry class: it drives `EventStreams` directly.
  *
  * A run measures one cold pass over its workload's slice, a fixed list of
  * entries of its class sized so the pass fits the run's time budget
  * (README.md explains the sizing). `--full` runs the whole class.
  */
object Workloads {
  val Train = "train"
  val Corpus = "corpus"
  val Sql = "sql"
  val Stream = "stream"
  val all: Seq[String] = Seq(Train, Corpus, Sql, Stream)

  /** The registry class of every entry, keyed by entry name. */
  def classOf: Map[String, String] = {
    val corpus = (TextOps.entries ++ SimilarityOps.entries ++
      CorpusOps.entries).map(_.name).toSet
    Registry.all.map { e =>
      e.name -> (if (e.oracle.isEmpty) Train
        else if (corpus(e.name)) Corpus
        else Sql)
    }.toMap
  }

  /** sharedInput token of every entry that declares one. */
  def groupOf: Map[String, String] =
    Registry.all.flatMap(e => e.sharedInput.map(e.name -> _)).toMap

  /** The entries one benchmark run measures, per registry class. */
  val slices: Map[String, Seq[String]] = Map(
    // the four reference architectures at their real widths, and the
    // narrow MLP trainer whose kernel the depth-k MLP generalizes
    Train -> Seq("q73_widenet_ref_train", "q74_mlp3_train",
      "q75_widernn2_ref_train", "q76_widelstm2_ref_train", "q40_mlp_train"),
    Corpus -> Seq(
      // TextOps, with the doc_token_hash_sets group
      "x4_jaccard_neardup", "x14_containment", "x4_minhash_lsh",
      "t_lang_id", "t_token_count",
      // SimilarityOps, with two members of embeddings_kmeans_quantized
      "x17_kmeans_clusters", "x18_cluster_diversity", "x36_semantic_decontam",
      // CorpusOps
      "t_bpe_train", "x24_norm_dedup"),
    Sql -> Seq(
      // Relational
      "q02_filter", "q04_join_agg", "q07_outer_join", "q08_agg_tpch_q1",
      "q10_rank_window", "q13b_json", "q26_asof_join",
      // Analytics (q62 is the one sink entry that writes no files)
      "q17e_corr", "q33_hll_distinct", "q62_merge_upsert", "q67_scd2",
      // MLRelational, TimeWindows, NeuralOps, GraphLayout
      "q16_indexer_events", "q21_tumbling_window", "q61_trainer_contract",
      "q48_zorder"))

  /** Entries of a workload: its slice, or with `full` its whole class. */
  def members(workload: String, full: Boolean): Seq[String] =
    if (full) classOf.collect { case (n, c) if c == workload => n }
      .toSeq.sorted
    else slices(workload)

  /** Seeded run order: sharedInput siblings form one unit (members in
    * name order) so they stay adjacent and share one warmed cache; the
    * units are shuffled by `seed`. */
  def order(names: Seq[String], groupOf: Map[String, String],
      seed: Long): Seq[String] = {
    val units = names.sorted.groupBy(n => groupOf.getOrElse(n, "n:" + n))
      .toSeq.sortBy(_._1).map(_._2)
    new scala.util.Random(seed).shuffle(units).flatten
  }

  /** Per entry in `ordered`: does the next entry share its group (so the
    * cache it warmed must survive)? */
  def keepCacheAfter(ordered: Seq[String],
      groupOf: Map[String, String]): Seq[Boolean] =
    ordered.indices.map { i =>
      groupOf.get(ordered(i)).isDefined && i + 1 < ordered.size &&
        groupOf.get(ordered(i + 1)) == groupOf.get(ordered(i))
    }
}
