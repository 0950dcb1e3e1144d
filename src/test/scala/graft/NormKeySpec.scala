package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, GenericInternalRow, InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TokenKernelFns

/** Pins the fused `norm_key` kernel (x24's dedup key) to the Spark
  * expression chain it replaced,
  * `trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9 ]", ""),
  * " +", " "))`, on both the interpreted `eval` path and the generated
  * code path: over the documents fixture, over every code point alone
  * and inside `"A<cp> B"` (surrogate code points encoded as the raw
  * three bytes, so they also cover invalid UTF-8), and on hand-picked
  * edge cases. */
class NormKeySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def legacy(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""),
      " +", " "))

  /** (legacy chain, norm_key) as analyzed Catalyst expressions over one
    * string input at ordinal 0. */
  private lazy val exprs: Seq[Expression] = {
    val df = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("text", StringType))))
    val p = df.select(legacy(col("text")).as("old"),
        TokenKernelFns.normKey(spark, col("text")).as("new"))
      .queryExecution.analyzed.collectFirst { case p: Project => p }.get
    p.projectList.map(e => BindReferences.bindReference(
      e.asInstanceOf[Alias].child, p.child.output))
  }

  private lazy val paths: Seq[(String, UnsafeProjection)] = Seq(
    "codegen" -> GenerateUnsafeProjection.generate(exprs),
    "eval" -> InterpretedUnsafeProjection.createProjection(exprs))

  /** Inputs (labelled) on which the two expressions differ, per path;
    * returns the first few and the count. */
  private def mismatches(inputs: Iterator[(String, UTF8String)])
      : (Long, Seq[String]) = {
    val row = new GenericInternalRow(1)
    var n = 0L
    val first = Seq.newBuilder[String]
    for ((label, s) <- inputs) {
      row.update(0, s)
      for ((path, proj) <- paths) {
        val r = proj(row)
        val same = if (r.isNullAt(0) || r.isNullAt(1))
          r.isNullAt(0) && r.isNullAt(1)
        else r.getUTF8String(0) == r.getUTF8String(1)
        if (!same) {
          if (n < 10) first += s"$path $label: legacy=" +
            (if (r.isNullAt(0)) "null" else s"'${r.getUTF8String(0)}'") +
            " norm_key=" +
            (if (r.isNullAt(1)) "null" else s"'${r.getUTF8String(1)}'")
          n += 1
        }
      }
    }
    (n, first.result())
  }

  /** The UTF-8 bytes of `cp` by the bit pattern alone: surrogate code
    * points come out as the (ill-formed) three-byte form. */
  private def utf8(cp: Int): Array[Byte] =
    if (cp < 0x80) Array(cp.toByte)
    else if (cp < 0x800)
      Array((0xc0 | cp >> 6).toByte, (0x80 | cp & 0x3f).toByte)
    else if (cp < 0x10000)
      Array((0xe0 | cp >> 12).toByte, (0x80 | cp >> 6 & 0x3f).toByte,
        (0x80 | cp & 0x3f).toByte)
    else
      Array((0xf0 | cp >> 18).toByte, (0x80 | cp >> 12 & 0x3f).toByte,
        (0x80 | cp >> 6 & 0x3f).toByte, (0x80 | cp & 0x3f).toByte)

  private def bytes(xs: Int*): UTF8String =
    UTF8String.fromBytes(xs.map(_.toByte).toArray)

  private def key(s: String): String =
    graft.functions.TokenKernels.normKey(UTF8String.fromString(s)).toString

  test("norm_key equals the legacy chain over the documents fixture") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val texts = docs.select("text").collect().map(_.getString(0))
    assert(texts.length >= 100)
    val (n, first) = mismatches(texts.iterator.zipWithIndex.map {
      case (t, i) => s"doc#$i" -> UTF8String.fromString(t) })
    assert(n == 0, first.mkString("\n"))
    // and through a whole-stage-codegen DataFrame, as x24 runs it
    val bad = docs.filter(not(md5(legacy(col("text"))) <=>
      md5(TokenKernelFns.normKey(spark, col("text"))))).count()
    assert(bad == 0)
  }

  test("norm_key equals the legacy chain on every code point, alone " +
      "and inside \"A<cp> B\"") {
    val all = Iterator.range(0, 0x110000).flatMap { cp =>
      val b = utf8(cp)
      Iterator(f"U+$cp%04X" -> UTF8String.fromBytes(b),
        f"A<U+$cp%04X> B" -> UTF8String.fromBytes(
          Array[Byte]('A') ++ b ++ Array[Byte](' ', 'B')))
    }
    val (n, first) = mismatches(all)
    assert(n == 0, s"$n mismatches, first:\n${first.mkString("\n")}")
  }

  test("norm_key equals the legacy chain on edge cases") {
    val cases: Seq[(String, UTF8String)] = Seq(
      "null" -> null,
      "empty" -> UTF8String.fromString(""),
      "all spaces" -> UTF8String.fromString("    "),
      "tabs and newlines" -> UTF8String.fromString("a\tb\nc \t d\r\n"),
      "dot between spaces" -> UTF8String.fromString("a . b"),
      "padded" -> UTF8String.fromString("  Hello,   World!  "),
      "kelvin" -> UTF8String.fromString("\u212A"),
      "dotted capital I" -> UTF8String.fromString("\u0130STANBUL"),
      "capital sharp s" -> UTF8String.fromString("STRA\u1E9EE"),
      "fullwidth digits" -> UTF8String.fromString("\uFF11\uFF12 3"),
      "surrogate pair" -> UTF8String.fromString("x\uD83D\uDE00y Z"),
      "lead byte then ASCII" -> bytes(0xc3, 'A', ' ', 'b'),
      "lone continuation" -> bytes('a', 0x80, 'b'),
      "overlong A (2 bytes)" -> bytes(0xc1, 0x81, 'z'),
      "overlong A (3 bytes)" -> bytes(0xe0, 0x81, 0x81, 'z'),
      "overlong A (4 bytes)" -> bytes(0xf0, 0x80, 0x81, 0x81, 'z'),
      "encoded surrogate" -> bytes('q', 0xed, 0xa0, 0x80, 'r'),
      "past U+10FFFF" -> bytes(0xf4, 0x90, 0x80, 0x80, 's', 0xf5, 't'),
      "truncated at end" -> bytes('u', ' ', 0xe2, 0x82),
      "truncated then euro" -> bytes(0xe2, 0x82, 0xe2, 0x82, 0xac, 'V'),
      "0xFF" -> bytes(0xff, 'w', 0xfe))
    val (n, first) = mismatches(cases.iterator)
    assert(n == 0, first.mkString("\n"))
    assert(key("a . b") == "a b")
    assert(key("  Hello,   World!  ") == "hello world")
    assert(key("a\tb\nc \t d") == "abc d")
    assert(key("\u212A") == "k")
    assert(key("\u0130STANBUL") == "istanbul")
    assert(key("\uFF11\uFF12 3") == "3")
    assert(graft.functions.TokenKernels.normKey(
      bytes(0xc3, 'A', ' ', 'b')).toString == "a b")
  }

  test("norm_key is callable from SQL") {
    val k = spark.sql("SELECT norm_key(' Ab,  C ') AS k").head().getString(0)
    assert(k == "ab c")
  }
}
