package perfbench

import java.math.{MathContext, BigDecimal => JBig}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Raw-text access to GeoJSON FeatureCollections, so features can be
  * compared byte for byte rather than after a parse/print round trip. */
object FeatureText {

  /** The raw text of each element of the `"features"` array. */
  def features(fc: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    var i = fc.indexOf("\"features\":[")
    require(i >= 0, "not a FeatureCollection")
    i += "\"features\":[".length
    while (i < fc.length && fc.charAt(i) != ']') {
      val c = fc.charAt(i)
      if (c == '{') {
        val end = objectEnd(fc, i)
        out += fc.substring(i, end)
        i = end
      } else i += 1
    }
    out.result()
  }

  /** Index just past the JSON object that starts at `start`. */
  private def objectEnd(s: String, start: Int): Int = {
    var depth = 0
    var inStr = false
    var i = start
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' | '[' => depth += 1
        case '}' | ']' =>
          depth -= 1
          if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("unterminated JSON object")
  }

  /** Feature ids lead every rendered feature: `{"id":"…",`. */
  def id(feature: String): String = {
    val p = "{\"id\":\""
    require(feature.startsWith(p), s"feature without a leading id: ${feature.take(40)}")
    feature.substring(p.length, feature.indexOf('"', p.length))
  }

  private val Num = "-?\\d+(?:\\.\\d+)?(?:[eE][-+]?\\d+)?".r

  /** The numbers of a feature's `geometry.coordinates`, flattened. */
  def coordinates(feature: String): Array[Double] = {
    val g = feature.indexOf("\"coordinates\":", feature.indexOf(",\"geometry\":"))
    Num.findAllIn(feature.substring(g + "\"coordinates\":".length)).map(_.toDouble).toArray
  }

  /** Everything before the geometry: id, type and properties. */
  def head(feature: String): String = feature.substring(0, feature.indexOf(",\"geometry\":"))
}

/** Shoelace centroid in exact decimal arithmetic, written apart from the
  * program's double-precision `Geo.polygonCentroid`, with the same
  * degenerate-area fallback to the vertex mean. */
object ExactCentroid {
  def apply(ring: Array[Array[Double]]): (Double, Double) = {
    val mc = MathContext.DECIMAL128
    def b(d: Double) = new JBig(d)
    var area = JBig.ZERO; var cx = JBig.ZERO; var cy = JBig.ZERO
    for (i <- 0 until ring.length - 1) {
      val (x0, y0, x1, y1) = (b(ring(i)(0)), b(ring(i)(1)), b(ring(i + 1)(0)), b(ring(i + 1)(1)))
      val cross = x0.multiply(y1).subtract(x1.multiply(y0))
      area = area.add(cross)
      cx = cx.add(x0.add(x1).multiply(cross))
      cy = cy.add(y0.add(y1).multiply(cross))
    }
    area = area.divide(b(2.0), mc)
    if (area.abs().doubleValue() < 1e-10)
      (ring.map(_(0)).sum / ring.length, ring.map(_(1)).sum / ring.length)
    else {
      val six = area.multiply(b(6.0))
      (cx.divide(six, mc).doubleValue(), cy.divide(six, mc).doubleValue())
    }
  }
}

/** What every generated alert must produce, and the check of one
  * invocation's delivered output against it.
  *
  *  - Copies of `fixtures/cap` templates must match the golden corpus
  *    (`fixtures/golden/all-fixtures.json`) byte for byte once the
  *    rewritten identifier is mapped back to the original.
  *  - Redrawn polygons must carry the generator's ring, and their centers
  *    the [[ExactCentroid]] of it (within 1e-6 degrees); everything before
  *    the geometry still matches the golden feature.
  *  - `fixtures/cap_bad` has no golden: its `ok-*` copies must all render
  *    alike after id mapping, and its `bad-*` (planted unparseable dates)
  *    copies must be quarantined and produce no feature.
  *  - Every expected feature arrives exactly once, nothing else arrives.
  */
final class CapExpect(root: Path) {
  private val golden: Map[String, String] = {
    val fc = new String(Files.readAllBytes(root.resolve("fixtures/golden/all-fixtures.json")),
      StandardCharsets.UTF_8)
    FeatureText.features(fc).map(f => FeatureText.id(f) -> f).toMap
  }

  /** Feature-id suffixes a copy of `t` produces; empty for no feature. */
  def suffixes(t: Template): Seq[String] = (t.dir, t.name, t.id) match {
    case (_, _, None) => Nil
    case ("fixtures/cap", _, Some(id)) =>
      golden.keys.filter(g => g == id || g.startsWith(id + "-")).map(_.drop(id.length))
        .toSeq.sorted
    case ("fixtures/cap_bad", "ok-point", _) => Seq("")
    case ("fixtures/cap_bad", "ok-polygon", _) => Seq("", "-center")
    case ("fixtures/cap_bad", n, _) if n.startsWith("bad-") => Nil
    case (d, n, _) => throw new IllegalArgumentException(s"no expectation for $d/$n")
  }

  def quarantined(t: Template): Boolean =
    t.dir == "fixtures/cap_bad" && t.name.startsWith("bad-")

  /** Every golden feature belongs to exactly one `fixtures/cap` template. */
  def requireGoldenCovered(ts: Seq[Template]): Unit = {
    val owned = ts.filter(_.dir == "fixtures/cap").flatMap(t => suffixes(t).map(t.id.get + _))
    require(owned.sorted == golden.keys.toSeq.sorted,
      s"golden features not partitioned by template: ${owned.diff(golden.keys.toSeq)}")
  }

  private val firstRender = mutable.Map.empty[(String, String), String]

  private def featureOk(a: GenAlert, suffix: String, f: String): Boolean = {
    val mapped = f.replace(a.id.get, a.template.id.get)
    val key = a.template.id.get + suffix
    a.rings match {
      case None if a.template.dir == "fixtures/cap" => golden.get(key).contains(mapped)
      case None => firstRender.getOrElseUpdate((a.template.name, suffix), mapped) == mapped
      case Some(rings) =>
        val ring = rings("^-(\\d+)".r.findFirstMatchIn(suffix).fold(0)(_.group(1).toInt))
        val coords = FeatureText.coordinates(f)
        val geomOk =
          if (suffix.endsWith("-center")) {
            val (x, y) = ExactCentroid(ring)
            coords.length == 2 && math.abs(coords(0) - x) < 1e-6 && math.abs(coords(1) - y) < 1e-6
          } else coords.sameElements(ring.flatMap(_.toSeq))
        geomOk && golden.get(key).exists(g => FeatureText.head(g) == FeatureText.head(mapped))
    }
  }

  /** Outcome of one invocation: alerts with a wrong or missing outcome
    * (plus any unexpected output), and for each alert whose features all
    * arrived, the receive time of the last POST carrying them. */
  case class Outcome(failed: Int, visibleNs: Seq[Long])

  def check(alerts: Seq[GenAlert], posts: Seq[(Long, String)],
      quarantine: Seq[String]): Outcome = {
    val expected = mutable.HashMap.empty[String, (GenAlert, String)]
    alerts.foreach(a => suffixes(a.template).foreach(s => expected(a.id.get + s) = (a, s)))
    val count = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val visible = mutable.HashMap.empty[String, Long]
    val bad = mutable.HashSet.empty[String]
    var unexpected = 0
    for ((at, body) <- posts; f <- FeatureText.features(body)) {
      val id = FeatureText.id(f)
      expected.get(id) match {
        case None => unexpected += 1
        case Some((a, s)) =>
          count(id) += 1
          visible(a.key) = math.max(visible.getOrElse(a.key, 0L), at)
          if (!featureOk(a, s, f)) bad += a.key
      }
    }
    expected.foreach { case (id, (a, _)) => if (count(id) != 1) bad += a.key }
    val qCount = quarantine.groupBy(identity).map { case (k, v) => k -> v.size }
    val qExpected = alerts.filter(a => quarantined(a.template)).flatMap(_.id).toSet
    qExpected.foreach(id => if (!qCount.get(id).contains(1)) bad += alerts.find(_.id.contains(id)).get.key)
    unexpected += qCount.keys.count(k => !qExpected(k))
    val delivered = alerts.filter(a => suffixes(a.template).nonEmpty && !bad(a.key))
    Outcome(bad.size + unexpected, delivered.map(a => visible(a.key)))
  }
}
