package perfbench

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Geo

class CapGenSpec extends AnyFunSuite {

  private val root: Path = Seq(Paths.get(""), Paths.get(".."))
    .map(_.toAbsolutePath.normalize)
    .find(p => Files.isDirectory(p.resolve("fixtures/cap")))
    .getOrElse(fail("run from the checkout root or perfbench/"))

  private val templates = CapGen.loadTemplates(root, Seq("fixtures/cap", "fixtures/cap_bad"))

  /** Everything a workload derives from its seed: documents, the churn
    * positions' inputs and the injected delays. */
  private def inputs(seed: Long): Seq[(String, Seq[Byte], Option[Seq[Seq[Double]]], Long)] = {
    val gen = new CapGen(templates, seed, redrawShare = 0.5)
    gen.batch(3000).zipWithIndex.map { case (a, i) =>
      (a.key, a.body.toSeq, a.rings.map(_.map(_.flatten.toSeq)), gen.delayMs(i % 3, a.key, 0))
    }
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7) == inputs(7))
  }

  test("a different seed gives different inputs") {
    val (a, b) = (inputs(7), inputs(8))
    assert(a.map(_._2) != b.map(_._2))
    assert(a.map(_._4) != b.map(_._4))
  }

  test("every template is used and identifiers are rewritten uniquely") {
    val alerts = new CapGen(templates, 1, 0.0).batch(2000)
    assert(alerts.map(_.template.name).toSet == templates.map(_.name).toSet)
    val ids = alerts.flatMap(_.id)
    assert(ids.distinct.size == ids.size)
    alerts.filter(_.id.isDefined).foreach(a =>
      assert(new String(a.body, "UTF-8").contains(s"<identifier>${a.id.get}</identifier>")))
  }

  test("redrawn rings are closed, heavy-tailed and parse back exactly") {
    val rings = new CapGen(templates, 3, 1.0).batch(6000).flatMap(_.rings).flatten
    val sizes = rings.map(_.length)
    assert(sizes.count(_ < 100).toDouble / sizes.size > 0.95)
    assert(sizes.exists(_ >= 1000))
    rings.take(300).foreach { r =>
      assert(r.head.sameElements(r.last))
      val parsed = Geo.parsePolygon(CapGen.capPolygon(r)).toOption.get
      assert(parsed.map(_.toSeq).toSeq == r.map(_.toSeq).toSeq)
      val (x, y) = ExactCentroid(r)
      val c = Geo.polygonCentroid(parsed)
      assert(math.abs(c(0) - x) < 1e-6 && math.abs(c(1) - y) < 1e-6)
    }
  }

  test("injected GET delay has median ~20 ms and p99 ~100 ms") {
    val d = (0 until 20000).map(i => CapGen.lognormalMs(11, 0, s"k$i", 0)).sorted
    assert(math.abs(d(10000) - 20) <= 2)
    assert(d(19800) >= 80 && d(19800) <= 125)
  }

  test("the golden corpus splits into features owned by one template each") {
    val expect = new CapExpect(root)
    expect.requireGoldenCovered(templates)
    assert(templates.filter(_.dir == "fixtures/cap").flatMap(expect.suffixes).nonEmpty)
  }
}
