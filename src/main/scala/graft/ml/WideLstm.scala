package graft.ml

/** [[LstmTrainer]]'s single-layer LSTM (`models/lstm_model.py`'s cell;
  * q56) on the depth-generic [[WideLstm2]] kernel at depth 1, with no
  * Dense layer and no dropout: a weight bridge whose `pack` maps
  * [[LstmTrainer.LstmWeights]] into the generic packed form (its
  * gradient buffer in one [wx, u, b] block per gate, then w2, b2) and
  * whose `grads` reads the buffer back into [[LstmTrainer.LstmGrads]].
  * [[LstmTrainer]] exposes no dropout/val surface, so the bridge mirrors
  * its plain `gradients`/`fit` contract. WideSinglesSpec pins
  * gradient-for-gradient equivalence for all 14 tensors;
  * WideKernelBitsSpec pins the buffer to the former single-layer
  * kernel's bits.
  */
object WideLstm {
  import LstmTrainer.{LstmWeights, LstmGrads, GateW}
  import TrainerCommon.Sample
  import WideNet.{meanMat, meanVec}

  /** The single-layer LSTM kernel (no dropout). */
  case object Kernel extends TrainerCommon.Kernel[LstmWeights, LstmGrads] {
    type P = WideLstm2.Packed
    type S = WideLstm2.Scratch
    def drops: Seq[Double] = Nil
    def pack(w: LstmWeights, T: Int): P = {
      val gates = Seq(w.i, w.f, w.g, w.o)
      new WideLstm2.Packed(Array(gates.flatMap(_.wx).toArray),
        Array(gates.flatMap(_.u.flatten).toArray),
        Array(gates.flatMap(_.b).toArray), Array.emptyDoubleArray,
        Array.emptyDoubleArray, w.w2.flatten.toArray, w.b2.toArray,
        gateBlocks = true, T)
    }
    def scratch(p: P): S = new WideLstm2.Scratch(p)
    def accumulate(s: Sample, p: P, sc: S, epoch: Int,
        g: Array[Double]): Unit =
      WideLstm2.accumulate(s, p, sc, epoch, 0.0, g)
    def grads(p: P, g: Array[Double], n: Double): LstmGrads = {
      val u = p.uL
      def gate(x: Int) = GateW(meanVec(g, p.wxOff(0)(x), u, n),
        meanMat(g, p.uuOff(0)(x), u, u, n), meanVec(g, p.bOff(0)(x), u, n))
      LstmGrads(gate(0), gate(1), gate(2), gate(3),
        meanMat(g, p.w3Off, p.kc, u, n), meanVec(g, p.b3Off, p.kc, n),
        g(p.statsOff) / n)
    }
  }
}
