package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2 / FIXTURES.md §4):
  * clustering totality, determinism under input permutation, B-7 score
  * symmetry, and blocking-threshold monotonicity. */
class PropertySpec extends AnyFunSuite {

  /** Seeded deterministic forAll (no scalatest-scalacheck bridge in the
    * offline cache). */
  private def forAll[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int)(f: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b), n)(t => f(t._1, t._2))

  private val h = Hierarchy.default

  private val firsts = Vector("james", "john", "mary", "patricia", "robert")
  private val lasts = Vector("smith", "jones", "miller", "davis", "wilson")

  private def mkToks(words: Seq[String]): Array[Tok] = {
    val raw = words.zipWithIndex.map { case (w, i) =>
      new Tok(w.stripSuffix("."), i, w.stripSuffix(".").length == 1, w.endsWith("."), 0)
    }
    // reference initNamesPart tagging (dao/G.java:181-209)
    val sorted = raw.sortBy(t => (t.isAbbr, -t.pos))
    sorted.head.namePart = NamePart.LASTNAME
    val rest = sorted.tail
    if (rest.nonEmpty) {
      val f = rest.minBy(_.pos)
      f.namePart = NamePart.FIRSTNAME
      for (t <- rest if t.namePart == 0)
        t.namePart =
          if (t.pos > sorted.head.pos) NamePart.SUFFIX
          else if (t.pos > f.pos && t.pos < sorted.head.pos) NamePart.MIDDLENAME
          else NamePart.PREFIX
    }
    raw.toArray
  }

  private val genName: Gen[Seq[String]] = for {
    f <- Gen.oneOf(firsts)
    l <- Gen.oneOf(lasts)
    style <- Gen.choose(0, 3)
  } yield style match {
    case 0 => Seq(f, l)
    case 1 => Seq(f.take(1) + ".", l)
    case 2 => Seq(l, f)
    case 3 => Seq(f, "lee", l)
  }

  private val genRefs: Gen[Seq[Greedy.Ref]] = for {
    n <- Gen.choose(2, 12)
    names <- Gen.listOfN(n, genName)
  } yield names.distinct.zipWithIndex.map { case (w, i) =>
    Greedy.Ref(i.toLong + 1, w.mkString(" "), (i % 5) + 1L, mkToks(w))
  }

  private def allPairs(refs: Seq[Greedy.Ref]): Seq[(Long, Long)] =
    for (a <- refs; b <- refs if a.id < b.id) yield (a.id, b.id)

  test("every ref is assigned exactly once and cluster ids are member ids") {
    forAll(genRefs) { refs =>
      val out = Greedy.cluster(refs, allPairs(refs), h)._1
      assert(out.map(_._1).sorted === refs.map(_.id).sorted)
      val ids = refs.map(_.id).toSet
      assert(out.forall { case (_, c) => ids.contains(c) })
    }
  }

  test("clustering is invariant under input row order") {
    forAll(genRefs) { refs =>
      val base = Greedy.cluster(refs, allPairs(refs), h)._1.toMap
      val shuffled = Greedy.cluster(refs.reverse, allPairs(refs).reverse, h)._1.toMap
      assert(base === shuffled)
    }
  }

  test("bi-directional hierarchical similarity is symmetric") {
    forAll2(genName, genName, 100) { (a, b) =>
      val ta = a.map(_.stripSuffix("."))
      val tb = b.map(_.stripSuffix("."))
      val keys = (ta ++ tb).flatMap { t =>
        val k = h.tokenKey(t); val l2 = h.lift(k); k +: (l2 ++ l2.flatMap(h.lift))
      }
      val df = keys.distinct.map(k => k -> (1L + math.abs(k.value.hashCode % 7))).toMap
      val s1 = BiDirectional.sim(h, ta, tb, df)
      val s2 = BiDirectional.sim(h, tb, ta, df)
      assert(math.abs(s1 - s2) < 1e-12)
    }
  }
}
