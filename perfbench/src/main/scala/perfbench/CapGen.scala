package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.{Locale, SplittableRandom}

/** A CAP fixture document used as a template for generated alerts. */
final case class Template(dir: String, name: String, body: String) {
  /** The fixture's `<identifier>`, if it has one. */
  val id: Option[String] =
    "<identifier>([^<]*)</identifier>".r.findFirstMatchIn(body).map(_.group(1))
  val polygons: Int = "<polygon>".r.findAllMatchIn(body).size
}

/** One generated alert: the key its URL ends in, the identifier it was
  * given (None when the template has none), and for a redrawn template
  * the generated rings as GeoJSON `[lon, lat]` pairs. */
final case class GenAlert(key: String, id: Option[String], template: Template,
    body: Array[Byte], rings: Option[Seq[Array[Array[Double]]]])

/** Seeded generator of CAP alert documents.
  *
  * Every alert is a copy of one fixture template with its identifier
  * rewritten to `<original>-x<uid>`, so each copy is a distinct alert.
  * When `redrawShare > 0`, that share of the MetService polygon templates
  * gets new polygons: star-shaped rings around a point in New Zealand
  * whose vertex count is heavy-tailed (99% draw tens of vertices, 1% draw
  * thousands). All randomness flows from `seed`, so one seed always
  * yields byte-identical documents in the same order.
  */
final class CapGen(val templates: IndexedSeq[Template], seed: Long, redrawShare: Double,
    prefix: String = "") {
  private val rng = new SplittableRandom(seed)
  private var uid = 0
  private var rings = 0

  /** MetService templates whose polygons may be redrawn. */
  private def redrawable(t: Template): Boolean =
    t.name.startsWith("metservice-") && t.polygons > 0

  def next(): GenAlert = {
    val t = templates(rng.nextInt(templates.size))
    val key = f"$prefix$uid%07d"
    uid += 1
    val id = t.id.map(o => s"$o-x$key")
    var body = id.fold(t.body)(n =>
      t.body.replaceFirst("<identifier>[^<]*</identifier>", s"<identifier>$n</identifier>"))
    val rings =
      if (redrawable(t) && rng.nextDouble() < redrawShare) {
        val rs = Seq.fill(t.polygons)(ring())
        val it = rs.iterator
        body = "<polygon>[^<]*</polygon>".r.replaceAllIn(body, _ =>
          "<polygon>" + CapGen.capPolygon(it.next()) + "</polygon>")
        Some(rs)
      } else None
    GenAlert(key, id, t, body.getBytes(StandardCharsets.UTF_8), rings)
  }

  def batch(n: Int): IndexedSeq[GenAlert] = IndexedSeq.fill(n)(next())

  /** Heavy-tailed vertex count: tens for 99 rings in 100, 2,000–3,000 for
    * every hundredth. The heavy share is fixed rather than drawn so that
    * every feed of the same size carries about the same geometry work. */
  private def vertexCount(): Int = {
    rings += 1
    if (rings % 100 == 0) 2000 + rng.nextInt(1000)
    else 10 + math.min(90, (math.exp(rng.nextDouble() * 1.2) * 12).toInt)
  }

  /** A closed star-shaped ring, `[lon, lat]`, 4 decimals: vertices at
    * sorted random angles around a centre, each at a random radius. */
  private def ring(): Array[Array[Double]] = {
    val n = vertexCount()
    val lat0 = -46.0 + rng.nextDouble() * 10.0
    val lon0 = 167.0 + rng.nextDouble() * 10.0
    val r0 = 0.05 + rng.nextDouble() * 0.5
    val angles = Array.fill(n)(rng.nextDouble() * 2 * math.Pi).sorted.distinct
    val pts = angles.map { a =>
      val r = r0 * (0.5 + rng.nextDouble())
      Array(CapGen.round4(lon0 + r * math.cos(a)), CapGen.round4(lat0 + r * math.sin(a)))
    }
    // rounding can merge neighbours; keep the ring free of repeats
    val uniq = pts.foldLeft(Vector.empty[Array[Double]]) { (acc, p) =>
      if (acc.nonEmpty && acc.last(0) == p(0) && acc.last(1) == p(1)) acc else acc :+ p
    }
    val open = if (uniq.size > 1 && uniq.head.sameElements(uniq.last)) uniq.init else uniq
    (open :+ open.head.clone()).toArray
  }

  /** Injected GET delay in ms for `key` on `attempt` of `invocation`:
    * lognormal with median 20 ms and p99 ~100 ms. Drawn from a hash of
    * its coordinates, so it does not depend on request order. */
  def delayMs(invocation: Int, key: String, attempt: Int): Long =
    CapGen.lognormalMs(seed, invocation, key, attempt)
}

object CapGen {
  def round4(v: Double): Double = String.format(Locale.ROOT, "%.4f", Double.box(v)).toDouble

  /** CAP `"lat,lon lat,lon …"` text for a `[lon, lat]` ring. */
  def capPolygon(ring: Array[Array[Double]]): String =
    ring.map(p => String.format(Locale.ROOT, "%.4f,%.4f", Double.box(p(1)), Double.box(p(0))))
      .mkString(" ")

  private val Sigma = math.log(5.0) / 2.326 // exp(2.326 σ) = p99 / median = 5

  def lognormalMs(seed: Long, invocation: Int, key: String, attempt: Int): Long = {
    val h = seed * 0x9E3779B97F4A7C15L ^ (invocation.toLong << 32) ^
      key.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^ attempt.toLong
    val r = new SplittableRandom(h)
    // Box–Muller on two uniforms in (0, 1]
    val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
    val z = math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    math.round(20.0 * math.exp(Sigma * z))
  }

  def loadTemplates(root: Path, dirs: Seq[String]): IndexedSeq[Template] =
    dirs.flatMap { d =>
      val files = Files.list(root.resolve(d))
      try files.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".xml"))
        .sortBy(_.getFileName.toString)
        .map(p => Template(d, p.getFileName.toString.stripSuffix(".xml"),
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
        .toIndexedSeq
      finally files.close()
    }.toIndexedSeq
}
