package graft.ml

import org.apache.xbean.asm9.ClassReader
import org.scalatest.funsuite.AnyFunSuite

/** JIT-shape guard for the reference-width kernels the `train`
  * benchmark workload runs: no method of `WideNet$`, `WideRnn2$`,
  * `WideLstm2$` or `WideMlp3$` may carry more than 1,000 bytes of
  * bytecode. `WideRnn2$` and `WideLstm2$` are the depth-generic
  * recurrent kernels: their per-layer helpers also run q42's and q56's
  * single-layer fits, through the `WideRnn`/`WideLstm` weight bridges,
  * which hold no kernel code of their own.
  *
  * Why: a per-row kernel runs once per row, so a monolithic
  * `accumulate` (WideMlp3 1,570, WideRnn2 2,153, WideNet 2,328 and
  * WideLstm2 3,570 bytes when each was one method) reaches its
  * normal C2 compile only after hundreds to thousands of rows and leans
  * on a chain of OSR compiles meanwhile. Measured on a 4-core host
  * (`local[4]`, one JFR-recorded cold `train` pass of the perfbench
  * workload): 1,227 of 2,887 executor-thread samples (42 %) sat in an
  * interpreted kernel frame, nearly all of them the four monolithic
  * `accumulate` methods (WideLstm2 837, WideNet 325, WideMlp3 41,
  * WideRnn2 18), and those four methods took 37 compiles and 13.5 s
  * of compiler-thread time (WideLstm2 alone 8.7 s in six compiles).
  * Split into per-timestep and per-layer helpers, each called T or L
  * times per row and compiled within the first rows of a fit, the same
  * pass read 37 interpreted samples of 1,226 and 3.7 s of kernel
  * compiles. Do not re-inline the helpers into one body.
  */
class WideKernelShapeSpec extends AnyFunSuite {

  private val MaxCodeBytes = 1000

  /** (method name + descriptor, Code attribute length) for every method
    * with a body, read from the class file the test classpath loads. */
  private def codeSizes(cls: String): Seq[(String, Int)] = {
    val in = getClass.getClassLoader.getResourceAsStream(
      cls.replace('.', '/') + ".class")
    assert(in != null, s"no class file for $cls")
    val cr = try new ClassReader(in) finally in.close()
    val chars = new Array[Char](cr.getMaxStringLength)
    var off = cr.header + 6                     // past access, this, super
    off += 2 + 2 * cr.readUnsignedShort(off)   // interfaces
    val out = Seq.newBuilder[(String, Int)]
    for (methods <- Seq(false, true)) {        // fields, then methods
      val n = cr.readUnsignedShort(off); off += 2
      for (_ <- 0 until n) {
        val member = cr.readUTF8(off + 2, chars) + cr.readUTF8(off + 4, chars)
        val attrs = cr.readUnsignedShort(off + 6); off += 8
        for (_ <- 0 until attrs) {
          // Code: name u2, length u4, max_stack u2, max_locals u2,
          // code_length u4
          if (methods && cr.readUTF8(off, chars) == "Code")
            out += member -> cr.readInt(off + 10)
          off += 6 + cr.readInt(off + 2)
        }
      }
    }
    out.result()
  }

  for (obj <- Seq("WideNet", "WideRnn2", "WideLstm2", "WideMlp3"))
    test(s"$obj: every method is at most $MaxCodeBytes bytecode bytes") {
      val sizes = codeSizes(s"graft.ml.$obj$$")
      assert(sizes.exists(_._1.contains("accumulate(")),
        s"no accumulate method read from $obj$$: $sizes")
      val big = sizes.filter(_._2 > MaxCodeBytes)
      assert(big.isEmpty, s"$obj$$ methods over $MaxCodeBytes bytes: " +
        big.map { case (m, n) => s"$m = $n" }.mkString(", "))
    }
}
