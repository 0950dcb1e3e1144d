package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry

/** Registry-wide physical-plan audit: every declared query must compile
  * to a plan that survives a 100x scale-up. One suite instead of
  * per-query assertions so a NEW query is audited the moment it is
  * registered — no way to ship an accidental nested loop.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private val plans: Map[String, String] =
    Registry.all.map { e =>
      e.name -> e.run(spark, sf).queryExecution.executedPlan.toString
    }.toMap

  // Queries allowed to contain a BroadcastNestedLoopJoin: each one
  // cross-joins a BY-CONSTRUCTION single-row broadcast side (a global
  // aggregate or a fixed probe vector) onto the fact side — O(n) work,
  // scale-safe. Anything else showing a nested loop is a bug.
  private val singleRowBroadcasts = Set(
    "q17_fit_stats", "q17_scale_probe", "q17c_impute", // fit statistics
    "x2_cosine_topk", "x2_cosine_topk_ann", "x2_cosine_topk_ivf", // probe
    "x5_media_features", // probe via cosineTopK
    "t_tfidf", // corpus-total doc count
    "t_bm25", // 1-row (N, total-length) stats onto the tf frame
    "q44_cms_freq", // the 1-row Count-Min grid joined onto 5 keys
    "q51_triangles", // three 1-row census aggregates cross-joined
    "x16_collocations", // 1-row bigram total onto the vocab frame
    "x26_cluster_terms", // 1-row corpus total onto the vocab frame
    "x15_knn_classify", // constant-bounded 10-row probe broadcast
    "q53_histogram", // 1-row global min/max onto the scan
    "q70_skew_report", // 1-row totals onto the O(keys) counts frame
    "q71_chi2", // 1-row lang-marginal array + 1-row total onto sources
    "x36_semantic_decontam", // 1-row quantized eval-set state onto corpus
    "x38_ks_drift") // 1-row bucket-axis array onto the source list

  test("registry names are unique and the rows-only set is the " +
    "declared trainer family") {
    val names = Registry.all.map(_.name)
    assert(names.size == names.distinct.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    // every entry without an oracle is one of the 14 by-design
    // FD-spec-gated trainer entries (SURVEY §5) — a new entry landing
    // here by accident (forgotten oracleSql) fails loudly
    val rowsOnly = Registry.all.filter(_.oracle.isEmpty).map(_.name).toSet
    val declared = Set("q40_mlp_train", "q40b_mlp_minibatch",
      "q41_lstm_forward",
      "q42_rnn_train", "q43_conv_train", "q56_lstm_train",
      "q57_conv2_train", "q58_conv3_train", "q59_rnn2_train",
      "q60_lstm2_train",
      "q73_widenet_ref_train", // r15: reference-width WideNet priced row
      "q74_mlp3_train", // r16: reference-depth stacked MLP priced row
      "q75_widernn2_ref_train", // r16: reference-width RNN priced row
      "q76_widelstm2_ref_train") // r16: reference-width LSTM priced row
    assert(rowsOnly == declared,
      s"unexpected rows-only entries: ${rowsOnly.diff(declared)}; " +
        s"missing: ${declared.diff(rowsOnly)}")
  }

  test("x24 keys on the fused norm_key kernel: no case map, no regex") {
    // Spark's lower/upper/initcap go through an ICU case-map class whose
    // first use in a JVM costs a ~1.8 s single-threaded static
    // initializer; x24's key is the one-pass norm_key kernel instead
    import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower,
      RegExpReplace, Upper}
    val plan = Registry.all.find(_.name == "x24_norm_dedup").get
      .run(spark, sf).queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val banned = exprs.collect {
      case e @ (_: Lower | _: Upper | _: InitCap | _: RegExpReplace) =>
        e.prettyName
    }
    assert(banned.isEmpty, s"x24 plans $banned:\n$plan")
    assert(exprs.exists(_.isInstanceOf[graft.functions.NormKey]), plan)
  }

  test("no query plans an unjustified nested-loop or cartesian join") {
    val offenders = plans.collect {
      case (n, p) if (p.contains("BroadcastNestedLoopJoin") ||
        p.contains("CartesianProduct")) && !singleRowBroadcasts(n) => n
    }
    assert(offenders.isEmpty, s"nested-loop plans: $offenders")
  }

  test("static (AQE-off) plans carry no unjustified nested loop either " +
      "— the regime the fixture-scale bench/verify drivers run " +
      "(GraftSession.dataSizedLocalConf)") {
    // Bench/Verify run AQE-OFF below 1 GiB of input (round 14), so the
    // join strategies the bench measures are the STATIC planner's. An
    // entry whose static plan degenerates (stats misestimate -> nested
    // loop / cartesian) would never be caught by the AQE-on audit
    // above; audit the static plans too. Plan-build only — nothing
    // executes.
    val off = FitSession.aqeOff(spark)
    val staticPlans = Registry.all.map { e =>
      e.name -> e.run(off, sf).queryExecution.executedPlan.toString
    }
    val offenders = staticPlans.collect {
      case (n, p) if (p.contains("BroadcastNestedLoopJoin") ||
        p.contains("CartesianProduct")) && !singleRowBroadcasts(n) => n
    }
    assert(offenders.isEmpty, s"static nested-loop plans: $offenders")
  }

  test("justified nested loops broadcast the single-row side") {
    singleRowBroadcasts.filter(plans(_).contains("NestedLoop"))
      .foreach { n =>
        assert(plans(n).contains("BroadcastNestedLoopJoin"),
          s"$n: single-row side not broadcast\n${plans(n).take(800)}")
      }
  }

  test("filter queries push predicates into the parquet scan") {
    // q02's range predicate must reach the scan, not sit in a Filter
    // above a full read
    assert(plans("q02_filter").contains("PushedFilters: ["),
      plans("q02_filter").take(1200))
    assert(plans("q02_filter").contains("l_discount"),
      plans("q02_filter").take(1200))
  }

  test("projection-only queries prune the read schema") {
    // q01 projects 3 of lineitem's 11 columns; the scan must not read
    // the rest (ReadSchema lists only what's needed)
    val p = plans("q01_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in plan: ${p.take(800)}"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_tax"), readSchema)
  }

  test("dimension joins broadcast, fact-fact joins shuffle") {
    assert(plans("q05_broadcast_join").contains("BroadcastHashJoin"),
      plans("q05_broadcast_join").take(1200))
    // lineitem x orders must NOT broadcast a fact side at scale — the
    // local fixture is tiny so AQE may still choose broadcast; assert
    // the plan at least keys the join on the equi-columns
    assert(plans("q04_join_agg").contains("l_orderkey"),
      plans("q04_join_agg").take(1200))
  }

  test("aggregations are two-phase (partial then final)") {
    val p = plans("q08_agg_tpch_q1")
    assert(p.contains("partial"), p.take(1200))
    assert(p.contains("HashAggregate"), p.take(1200))
  }

  // Entries allowed an UNPARTITIONED window: each one's window input is
  // bounded by construction — constant in corpus size, or growing only
  // with a dimension the operator itself caps — so the single-task sort
  // never sees data-scale rows. Anything else with a global window is a
  // scale cliff (one task sorts the corpus) and fails this audit.
  private val boundedGlobalWindows = Map(
    "q52_skyline" -> "global sweep runs over per-bucket LOCAL-skyline survivors only",
    "q16_indexer_events" -> "rank over DISTINCT category values (O(categories))",
    "q16_indexer_mktseg" -> "rank over DISTINCT category values (O(categories))",
    "q55_resample_ffill" -> "day-axis boundary carry (O(time-range / 1 day))",
    "x27_temperature_mix" -> "allocation windows over the O(sources) stats frame")

  // Paren-balanced extraction of every windowspecdefinition(...) arg
  // list, split on TOP-LEVEL commas: a partition key that is itself a
  // function call (e.g. date_trunc(day, ts#1)) must stay one element —
  // the old single-regex form stopped at the first ')' and could
  // misclassify such specs as new queries are added.
  private def windowSpecs(p: String): Seq[Seq[String]] = {
    val marker = "windowspecdefinition("
    val out = scala.collection.mutable.Buffer[Seq[String]]()
    var idx = p.indexOf(marker)
    while (idx >= 0) {
      var i = idx + marker.length
      var depth = 1
      val parts = scala.collection.mutable.Buffer[String]()
      val sb = new StringBuilder
      while (depth > 0 && i < p.length) {
        p.charAt(i) match {
          case '(' => depth += 1; sb.append('(')
          case ')' => depth -= 1; if (depth > 0) sb.append(')')
          case ',' if depth == 1 => parts += sb.toString; sb.clear()
          case c => sb.append(c)
        }
        i += 1
      }
      parts += sb.toString
      out += parts.map(_.trim).toSeq
      idx = p.indexOf(marker, i)
    }
    out.toSeq
  }

  test("unpartitioned windows appear only on bounded-by-construction frames") {
    def unpartitioned(p: String): Boolean =
      windowSpecs(p).exists { parts =>
        val first = parts.headOption.getOrElse("")
        first.contains(" ASC") || first.contains(" DESC")
      }
    val offenders = plans.collect {
      case (n, p) if unpartitioned(p) && !boundedGlobalWindows.contains(n) => n
    }
    assert(offenders.isEmpty,
      s"global single-partition window on a data-scale frame: $offenders")
    // the whitelist must not go stale: every entry on it still plans
    // the window it justifies
    val stale = boundedGlobalWindows.keys.filterNot(n => unpartitioned(plans(n)))
    assert(stale.isEmpty, s"whitelist entries without a global window: $stale")
  }

  test("q55's grid fill window is partitioned by day") {
    // the forward-fill over the minute grid must NOT be a global
    // single-partition window: the fill windows (lm_day/sm_day) carry a
    // day partition key. The only unpartitioned window allowed is the
    // O(range/1day) boundary-carry over the day axis.
    val p = plans("q55_resample_ffill")
    val specs = windowSpecs(p)
    assert(specs.nonEmpty, p.take(800))
    // partition columns print before the sort orders; a spec whose first
    // element already carries a sort direction has NO partition key
    def partitioned(parts: Seq[String]) = {
      val first = parts.headOption.getOrElse("")
      !(first.contains(" ASC") || first.contains(" DESC"))
    }
    // the grid-fill specs order by the minute column m — each must be
    // partitioned (by day); only the day-axis carry may be unpartitioned
    val fillSpecs = specs.filter(_.exists(_.contains("m#")))
    assert(fillSpecs.nonEmpty, s"no minute-ordered window:\n$specs")
    fillSpecs.foreach { s =>
      assert(partitioned(s) && s.exists(_.contains("day#")),
        s"grid fill running unpartitioned: $s")
    }
  }

  test("whole-stage codegen covers the relational core") {
    // AQE prints the unfinalized plan until first execution — run the
    // query through the noop sink, then inspect the FINAL plan
    Seq("q01_scan_project", "q02_filter", "q08_agg_tpch_q1").foreach { q =>
      val df = Registry.all.find(_.name == q).get.run(spark, sf)
      df.collect() // finalizes THIS QueryExecution's adaptive plan
      val finalPlan = df.queryExecution.executedPlan.toString
      // codegen'd operators print with the `*(stageId)` star marker
      assert(finalPlan.contains("*("), s"$q lost codegen:\n$finalPlan")
    }
  }
}
