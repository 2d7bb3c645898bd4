package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Inputs are a function of the seed: the same seed gives byte-identical
  * inputs, another seed gives different inputs of the same shape. */
class GenSpec extends AnyFunSuite {

  private def feedBytes(seed: Long): String = {
    val f = Gen.feed(seed, 50, 20)
    val rs = Gen.reports(seed, f)
    Gen.sha256(f.pages.map(_.map(_.json).mkString("\n")).mkString("\f") +
      f.ids.map(i => s"$i ${f.attrs(i)}").mkString("\n") + rs.mkString("\n") +
      Gen.catalogTemplates(seed, f, rs, 200).mkString("\n"))
  }
  private def corpusBytes(seed: Long): String = Gen.sha256(Gen.corpus(seed, 10, 100).mkString("\n"))
  private def vectorBytes(seed: Long): String = Gen.sha256(Gen.vectors(seed, 300, 2, 50, 20).digest)

  private val generators: Seq[(String, Long => String)] = Seq(
    "feed" -> feedBytes, "corpus" -> corpusBytes, "vectors" -> vectorBytes)

  test("the same seed gives byte-identical inputs") {
    generators.foreach { case (n, g) => assert(g(42L) == g(42L), n) }
  }

  test("another seed gives different inputs") {
    generators.foreach { case (n, g) => assert(g(42L) != g(43L), n) }
  }

  test("feed and catalog requests: same shape under every seed") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val f = Gen.feed(seed, 200, 20)
      assert(f.pages.size == 200 && f.pages.forall(_.size == 20))
      val items = f.items
      val poisoned = items.count(_.id.isEmpty) / 4000.0
      assert(poisoned > 0.005 && poisoned < 0.02)
      val repeats = (items.count(_.id.isDefined) - f.ids.size) / 4000.0
      assert(repeats > 0.01 && repeats < 0.03)
      assert(items.flatMap(_.id).toSet == f.ids.toSet)
      val n = f.ids.size.toDouble
      val missing = f.ids.count(f.attrs(_).countries.isEmpty) / n
      assert(missing > 0.03 && missing < 0.07)
      val tv = f.ids.count(f.attrs(_).tpe == "tv") / n
      assert(tv > 0.2 && tv < 0.3)
      val framed = f.ids.count(f.attrs(_).frames.nonEmpty) / n
      assert(framed > 0.65 && framed < 0.75)
      assert(f.ids.forall(i => f.attrs(i).frames.map(_.path).distinct.size == f.attrs(i).frames.size))
      val tpl = Gen.catalogTemplates(seed, f, Gen.reports(seed, f), 600)
      assert(tpl.distinct.size == 600)
      val searches = tpl.count(_.isInstanceOf[Gen.Search]) / 600.0
      assert(searches > 0.38 && searches < 0.52)
    }
  }

  test("corpus: same shape under every seed, copies are near duplicates") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val docs = Gen.corpus(seed, 10, 200)
      assert(docs.size == 2000 && docs.map(_.id).distinct.size == 2000)
      assert((0 until 10).forall(f => docs.count(_.split == f) == 200))
      val copies = docs.filter(_.origin.isDefined)
      assert(copies.size > 300 && copies.size < 500)
      assert(copies.flatMap(_.origin).distinct.size == copies.size, "one copy per original")
      val byId = docs.map(d => d.id -> d).toMap
      copies.foreach { c =>
        val o = byId(c.origin.get)
        assert(o.split <= c.split)
        val j = StreamDedup.jaccard(StreamDedup.shingles(c.text), StreamDedup.shingles(o.text))
        assert(j >= 0.5, s"copy ${c.id} of ${o.id}: jaccard $j")
      }
      assert(copies.exists(c => c.split > byId(c.origin.get).split), "copies cross batches")
    }
  }

  test("vectors: same shape under every seed") {
    Seq(1L, 2L).foreach { seed =>
      val v = Gen.vectors(seed, 500, 3, 40, 25)
      assert(v.base.size == 500 && v.shards.map(_.size) == Seq(40, 40, 40))
      assert(v.queries.size == 25 && v.shardQueries.size == 3)
      val ids = (v.base ++ v.shards.flatten ++ v.queries ++ v.shardQueries).map(_._1)
      assert(ids.distinct.size == ids.size)
      assert((v.base ++ v.queries).forall(_._2.length == 64))
    }
  }
}
