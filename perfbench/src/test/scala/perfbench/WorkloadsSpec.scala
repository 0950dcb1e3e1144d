package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

class WorkloadsSpec extends AnyFunSuite {
  private val classes = Seq(Workloads.Train, Workloads.Corpus, Workloads.Sql)

  test("every registry entry falls in exactly one of train, corpus and sql") {
    val names = Registry.all.map(_.name)
    assert(names.size == 179)
    assert(names.distinct.size == names.size)
    val cls = Workloads.classOf
    assert(cls.keySet == names.toSet)
    val byClass = classes.map(c => Workloads.members(c, full = true).toSet)
    assert(byClass.map(_.size).sum == names.size)
    assert(byClass.reduce(_ ++ _) == names.toSet)
    assert(byClass.map(_.size) == Seq(14, 74, 91))
  }

  test("each slice is drawn from its own class, without repeats") {
    val cls = Workloads.classOf
    classes.foreach { c =>
      val s = Workloads.slices(c)
      assert(s.nonEmpty && s.distinct == s)
      s.foreach(n => assert(cls.get(n).contains(c), s"$n is not in $c"))
    }
  }

  test("the same seed gives the same order, another seed another order") {
    val g = Workloads.groupOf
    classes.foreach { c =>
      val names = Workloads.members(c, full = true)
      val a = Workloads.order(names, g, 7L)
      assert(a == Workloads.order(names, g, 7L))
      assert(a != Workloads.order(names, g, 8L))
      assert(a.sorted == names.sorted)
    }
  }

  test("sharedInput siblings stay adjacent and keep the cache between them") {
    val g = Workloads.groupOf
    assert(g.values.toSet.size >= 2)
    for (c <- classes; full <- Seq(true, false); seed <- 1L to 20L) {
      val ordered = Workloads.order(Workloads.members(c, full), g, seed)
      val keep = Workloads.keepCacheAfter(ordered, g)
      ordered.flatMap(g.get).distinct.foreach { grp =>
        val at = ordered.indices.filter(i => g.get(ordered(i)).contains(grp))
        assert(at == (at.head to at.last), s"$grp split in $ordered")
        assert(at.init.forall(keep) && !keep(at.last))
      }
      assert(ordered.indices.filterNot(i => g.contains(ordered(i)))
        .forall(i => !keep(i)))
    }
  }
}
