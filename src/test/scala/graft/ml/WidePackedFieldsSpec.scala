package graft.ml

import org.scalatest.funsuite.AnyFunSuite

/** Broadcast-size guard for the wide trainers' packed weights: every
  * `graft.ml.Wide*$Packed` class declares only primitive and
  * primitive-array fields.
  *
  * Why: every gradient pass (`TrainerCommon.sumPass`) broadcasts its
  * `Packed`, and a broadcast is size-estimated and serialized field by
  * field. A lambda in the constructor that reads the typed weight tree
  * (`w.l1(x)`, `w.convW(b)`) makes scalac keep that tree as a field,
  * and a tuple pattern (`val (a, b) = ...`) keeps a `Tuple2`; q76's
  * tree is over 120k boxed doubles that no executor reads. Bind
  * sub-trees to locals or pass them to a method instead.
  */
class WidePackedFieldsSpec extends AnyFunSuite {

  /** Binary names of the `Wide*$Packed` classes in the class directory
    * that holds TrainerCommon. */
  private def packedClasses: Seq[String] = {
    val dir = new java.io.File(classOf[TrainerCommon.Packed]
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    Option(new java.io.File(dir, "graft/ml").list()).toSeq.flatten
      .filter(n => n.startsWith("Wide") && n.endsWith("$Packed.class"))
      .map(n => "graft.ml." + n.stripSuffix(".class")).sorted
  }

  private def primitiveOrArray(c: Class[_]): Boolean =
    if (c.isArray) primitiveOrArray(c.getComponentType) else c.isPrimitive

  test("the packed classes are found") {
    assert(packedClasses == Seq("WideConv", "WideConv2", "WideLstm2",
      "WideMlp3", "WideNet", "WideRnn2").map(n => s"graft.ml.$n$$Packed"))
  }

  for (cls <- packedClasses)
    test(s"$cls declares only primitive and primitive-array fields") {
      val bad = Class.forName(cls).getDeclaredFields.toSeq
        .filterNot(f => primitiveOrArray(f.getType))
        .map(f => s"${f.getName}: ${f.getType.getName}")
      assert(bad.isEmpty, s"non-primitive fields: ${bad.mkString(", ")}")
    }
}
