package graft.ml

/** [[RnnTrainer]]'s single-layer SimpleRNN (`models/rnn_model.py`'s
  * cell; q42) on the depth-generic [[WideRnn2]] kernel at depth 1: a
  * weight bridge whose `pack` maps [[RnnTrainer.RnnWeights]] into the
  * generic packed form and whose `grads` reads the buffer — wx, wh, b,
  * w2, b2 — back into [[RnnTrainer.RnnGrads]]. WideSinglesSpec pins
  * gradient-for-gradient equivalence against [[RnnTrainer.gradientsVal]],
  * the post-recurrence dropout mask and the val slice included;
  * WideKernelBitsSpec pins the buffer to the former single-layer
  * kernel's bits.
  */
object WideRnn {
  import RnnTrainer.{RnnWeights, RnnGrads}
  import TrainerCommon.Sample
  import WideNet.{meanMat, meanVec}

  /** The SimpleRNN kernel; `dropout` is the post-recurrence rate on h_T. */
  final case class Kernel(dropout: Double = 0.0)
      extends TrainerCommon.Kernel[RnnWeights, RnnGrads] {
    type P = WideRnn2.Packed
    type S = WideRnn2.Scratch
    def drops: Seq[Double] = Seq(dropout)
    def pack(w: RnnWeights, T: Int): P = new WideRnn2.Packed(
      Array(w.wx.toArray), Array(w.wh.flatten.toArray), Array(w.b.toArray),
      w.w2.flatten.toArray, w.b2.toArray, T)
    def scratch(p: P): S = new WideRnn2.Scratch(p)
    def accumulate(s: Sample, p: P, sc: S, epoch: Int,
        g: Array[Double]): Unit =
      WideRnn2.accumulate(s, p, sc, epoch, dropout, g)
    def grads(p: P, g: Array[Double], n: Double): RnnGrads = {
      val u = p.uL
      RnnGrads(meanVec(g, p.wxOff(0), u, n), meanMat(g, p.whOff(0), u, u, n),
        meanVec(g, p.bOff(0), u, n), meanMat(g, p.w3Off, p.kc, u, n),
        meanVec(g, p.b3Off, p.kc, n), g(p.statsOff) / n)
    }
  }
}
