package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, GenericInternalRow, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{PortableHash, TokenKernelFns}
import graft.ops.BpeTrain

/** Pins the fused token kernels to the higher-order-function forms
  * they replace — same integers on realistic and edge inputs, so the
  * x4_minhash_lsh / t_bigram_lm rewires cannot drift from the oracle
  * contract the HOF forms were verified against. */
class TokenKernelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixtureTexts = {
    import spark.implicits._
    Seq(
      "the quick brown fox jumps over the lazy dog",
      "the the the repeated tokens the",
      "single",
      "",            // split("") = [""] — one empty-string token
      "a b",
      "x " + ("y " * 60).trim // longer doc
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("minhash_sig equals the array_min(transform(md5w)) HOF form") {
    val n = 32
    val df = fixtureTexts
      .select(col("id"), split(col("text"), " ").as("t"))
      .withColumn("w", transform(array_distinct(col("t")),
        t => PortableHash.md5w(t) % lit(PortableHash.M)))
    val hof = df.select(col("id"),
      array((0 until n).map(i =>
        array_min(transform(col("w"), w =>
          (lit(PortableHash.a(i)) * w + lit(PortableHash.b(i)))
            % lit(PortableHash.P)))): _*).as("sig"))
    val fused = df.select(col("id"),
      TokenKernelFns.minhashSig(spark, col("t"), n).as("sig"))
    val h = hof.orderBy("id").collect().map(_.getSeq[Any](1))
    val f = fused.orderBy("id").collect().map(_.getSeq[Any](1))
    assert(h.length == f.length)
    h.zip(f).foreach { case (a, b) => assert(a == b) }
  }

  test("minhash_sig over the real documents fixture matches") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val n = 16
    val both = docs.select(col("doc_id"),
      TokenKernelFns.minhashSig(spark, col("t"), n).as("fused"),
      array((0 until n).map(i =>
        array_min(transform(
          transform(array_distinct(col("t")),
            t => PortableHash.md5w(t) % lit(PortableHash.M)),
          w => (lit(PortableHash.a(i)) * w + lit(PortableHash.b(i)))
            % lit(PortableHash.P)))): _*).as("hof"))
    val bad = both.filter(not(col("fused") <=> col("hof"))).count()
    assert(bad == 0)
  }

  test("minhash_band_buckets equals aggregate(slice(sig)) band folds") {
    val n = 32; val bands = 8; val r = n / bands
    val df = fixtureTexts
      .select(col("id"), split(col("text"), " ").as("t"))
    val sig = TokenKernelFns.minhashSig(spark, col("t"), n)
    val hofBands = transform(sequence(lit(0), lit(bands - 1)), b =>
      aggregate(slice(sig, b * lit(r) + lit(1), lit(r)), lit(0L),
        (acc, x) => (acc * 1000003L + x) % 1000000007L))
    val both = df.select(
      TokenKernelFns.minhashBandBuckets(spark, col("t"), n, bands)
        .as("fused"),
      hofBands.as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1))
    }
  }

  test("token_xx64_set equals transform(array_distinct, xxhash64)") {
    val df = fixtureTexts.select(col("id"), split(col("text"), " ").as("t"))
    val both = df.select(
      TokenKernelFns.tokenXx64Set(spark, col("t")).as("fused"),
      transform(array_distinct(col("t")), t => xxhash64(t)).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("token_xx64_set handles null tokens like the HOF form") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq[String]("a", null, "a", "b", null)))
      .toDF("t")
    val both = df.select(
      TokenKernelFns.tokenXx64Set(spark, col("t")).as("fused"),
      transform(array_distinct(col("t")), t => xxhash64(t)).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  /** The exact HOF chain [[graft.ops.Dedup.shingleTokens]] +
    * xxhash64 computes: grams at indices 0..max(size-n, 0), concat_ws
    * null-skipping, array_distinct, then the hash. */
  private def hofNgramHashes(toks: org.apache.spark.sql.Column, n: Int) =
    transform(
      array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))),
      g => xxhash64(g))

  test("ngram_xx64_set equals the gramsOf + xxhash64 HOF chain") {
    val df = fixtureTexts.select(col("id"), split(col("text"), " ").as("t"))
    for (n <- Seq(2, 3, 5)) {
      val both = df.select(
        TokenKernelFns.ngramXx64Set(spark, col("t"), n).as("fused"),
        hofNgramHashes(col("t"), n).as("hof"))
      both.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n")
      }
    }
  }

  test("ngram_xx64_set over the real documents fixture matches") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(split(col("text"), " ").as("t"))
    val bad = docs.select(
        TokenKernelFns.ngramXx64Set(spark, col("t"), 3).as("fused"),
        hofNgramHashes(col("t"), 3).as("hof"))
      .filter(not(col("fused") <=> col("hof"))).count()
    assert(bad == 0)
  }

  test("ngram_xx64_set handles nulls, empties and short docs like the HOF") {
    import spark.implicits._
    val df = Seq(
      Seq[String]("a", null, "b", "a", null, "b", "c"),
      Seq[String](),
      Seq[String]("one"),
      Seq[String]("x", "y") // shorter than n=3
    ).map(Tuple1(_)).toDF("t")
    val both = df.select(
      TokenKernelFns.ngramXx64Set(spark, col("t"), 3).as("fused"),
      hofNgramHashes(col("t"), 3).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("bigram_hash_pairs equals adjacentPairs + xxhash64 columns") {
    val df = fixtureTexts.select(col("id"), split(col("text"), " ").as("t"))
    val hof = df
      .select(col("id"), explode(BpeTrain.adjacentPairs(col("t"))).as("p"))
      .select(col("id"),
        xxhash64(col("p.l"), col("p.r")).as("k12"),
        xxhash64(col("p.l")).as("k1"))
      .orderBy("id", "k12", "k1").collect().toSeq
    val fused = df
      .select(col("id"),
        explode(TokenKernelFns.bigramHashPairs(spark, col("t"))).as("p"))
      .select(col("id"), col("p.k12"), col("p.k1"))
      .orderBy("id", "k12", "k1").collect().toSeq
    assert(hof == fused)
  }

  test("adjacent_str_pairs equals BpeTrain.adjacentPairs") {
    import spark.implicits._
    val df = fixtureTexts.select(col("id"), split(col("text"), " ").as("t"))
      .union(Seq((100L, Seq[String]("a", null, "b")),
        (101L, Seq[String]("solo")), (102L, Seq.empty[String]))
        .toDF("id", "t"))
    val both = df.select(
      TokenKernelFns.adjacentStrPairs(spark, col("t")).as("fused"),
      BpeTrain.adjacentPairs(col("t")).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Row](0) == r.getSeq[Row](1))
    }
  }

  test("bigram_hash_pairs yields no rows below 2 tokens") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq[String]("only")), Tuple1(Seq.empty[String]))
      .toDF("t")
    val n = df.select(explode(
      TokenKernelFns.bigramHashPairs(spark, col("t")))).count()
    assert(n == 0)
  }

  test("ordered_pairs equals the nested-lambda transform/slice form") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(3L, 7L, 9L, 12L)), Tuple1(Seq(5L)),
      Tuple1(Seq.empty[Long]), Tuple1(Seq(1L, 2L)))
      .toDF("vs")
    val hof = df.select(expr(
      """flatten(transform(vs, (x, i) ->
        |  transform(slice(vs, i + 2, size(vs)),
        |            y -> struct(x AS u, y AS w))))""".stripMargin).as("p"))
      .collect().map(_.getSeq[Row](0)).toSeq
    val fused = df.select(
      TokenKernelFns.orderedPairs(spark, col("vs")).as("p"))
      .collect().map(_.getSeq[Row](0)).toSeq
    assert(fused == hof)
  }

  test("token_tf_pairs equals explode + groupBy(doc, tok) counts") {
    val toks = fixtureTexts.select(col("id"),
      explode(split(col("text"), " ")).as("tok"))
    val grouped = toks.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
      .orderBy("id", "tok")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    val fused = fixtureTexts.select(col("id"),
        explode(TokenKernelFns.tokenTfPairs(spark,
          split(col("text"), " "))).as("p"))
      .select(col("id"), col("p.tok"), col("p.tf"))
      .orderBy("id", "tok")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(fused == grouped)
  }

  test("token_tf_pairs counts null tokens as their own group, sorted") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq[String]("b", null, "a", "b", null, "b")),
      Tuple1(Seq.empty[String])).toDF("t")
    val rows = df.select(
        TokenKernelFns.tokenTfPairs(spark, col("t")).as("p"))
      .collect().map(_.getSeq[Row](0).map(r =>
        (Option(r.getString(0)), r.getLong(1)))).toSeq
    // sorted by token bytes asc, null entry trailing; empty -> empty
    assert(rows == Seq(
      Seq((Some("a"), 1L), (Some("b"), 3L), (None, 2L)),
      Seq.empty))
  }

  test("kernels survive codegen and interpreted paths identically") {
    // A generated projection runs the kernels' doGenCode, an interpreted
    // one their nullSafeEval. A session setting cannot force the latter:
    // with whole-stage codegen off, ProjectExec still builds its
    // projection through expression codegen. So both projections are
    // built directly over the analyzed expressions (the NormKeySpec way).
    val df = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("t", ArrayType(StringType)))))
    val p = df.select(TokenKernelFns.minhashSig(spark, col("t"), 8).as("s"),
        TokenKernelFns.tokenXx64Set(spark, col("t")).as("x"))
      .queryExecution.analyzed.collectFirst { case p: Project => p }.get
    val exprs = p.projectList.map(e => BindReferences.bindReference(
      e.asInstanceOf[Alias].child, p.child.output))
    val gen = GenerateUnsafeProjection.generate(exprs)
    val interp = InterpretedUnsafeProjection.createProjection(exprs)
    def cells(r: InternalRow): Seq[Option[Seq[Option[Long]]]] =
      Seq(0, 1).map(i => Option.when(!r.isNullAt(i)) {
        val a = r.getArray(i)
        (0 until a.numElements()).map(j =>
          Option.when(!a.isNullAt(j))(a.getLong(j)))
      })
    val docs = fixtureTexts.select(split(col("text"), " ")).collect()
      .map(_.getSeq[String](0)).toSeq
    val inputs = docs ++ Seq(Seq("b", null, "a", "b"), Seq(null), Seq.empty)
    val row = new GenericInternalRow(1)
    for (toks <- inputs.map(Some(_)) :+ None) {
      row.update(0, toks.map(ts => new GenericArrayData(
        ts.map(t => if (t == null) null else UTF8String.fromString(t))))
        .orNull)
      val viaGen = cells(gen(row))
      assert(cells(interp(row)) == viaGen, s"input $toks")
      assert(viaGen.forall(_.isDefined) == toks.isDefined, s"input $toks")
    }
  }
}
