package graft

import graft.core.{BBox, Span}
import graft.img.{Bin, Comp, ConnectedComponents, Gray, Otsu}
import graft.kernel.Clustering
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties from the SURVEY §5 test plan: clustering
  * order-invariance, containment monotonicity under margin, rotation
  * roundtrips, offset-reassembly (the interleaving invariant §7.5-2). */
object PropertySpec extends Properties("graft") {

  property("gap clustering invariant to input order (A2)") =
    forAll(Gen.listOf(Gen.choose(0, 500)), Gen.choose(1, 30), Gen.long) {
      (xs: List[Int], gap: Int, seed: Long) =>
        val a = Clustering.cluster(xs, gap)(identity)
        val b = Clustering.cluster(new scala.util.Random(seed).shuffle(xs), gap)(identity)
        a == b
    }

  property("clusters gap-bounded inside, gap-separated outside (A2)") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 500)), Gen.choose(1, 30)) {
      (xs: List[Int], gap: Int) =>
        val cl = Clustering.cluster(xs, gap)(identity)
        val inside = cl.forall(c =>
          c.sorted.sliding(2).forall(p => p.size < 2 || p(1) - p(0) <= gap))
        val outside = cl.sliding(2).forall(p =>
          p.size < 2 || p(1).min - p(0).max > gap)
        val partition = cl.flatten.sorted == xs.sorted
        inside && outside && partition
    }

  private val boxGen = for {
    x <- Gen.choose(0, 200); y <- Gen.choose(0, 200)
    w <- Gen.choose(1, 100); h <- Gen.choose(1, 100)
  } yield BBox(x, y, x + w, y + h)

  property("containment monotone under margin expansion (J2)") =
    forAll(boxGen, boxGen, Gen.choose(0, 20), Gen.choose(0, 20)) {
      (a: BBox, b: BBox, m1: Int, m2: Int) =>
        val (lo, hi) = (math.min(m1, m2), math.max(m1, m2))
        val aLo = BBox(a.x1 - lo, a.y1 - lo, a.x2 + lo, a.y2 + lo)
        val aHi = BBox(a.x1 - hi, a.y1 - hi, a.x2 + hi, a.y2 + hi)
        !aLo.contains(b) || aHi.contains(b)
    }

  property("iou symmetric, bounded, 1 on self") =
    forAll(boxGen, boxGen) { (a: BBox, b: BBox) =>
      val iab = a.iou(b)
      iab == b.iou(a) && iab >= 0.0 && iab <= 1.0 && a.iou(a) == 1.0
    }

  private val imgGen = for {
    w <- Gen.choose(1, 12); h <- Gen.choose(1, 12)
    px <- Gen.listOfN(w * h, Gen.choose(0, 255))
  } yield Gray.fromInts(w, h, px.toArray)

  property("rotate 90 x4 identity; 90+270 cancel; 180 self-inverse") =
    forAll(imgGen) { g: Gray =>
      g.rotateCCW(90).rotateCCW(90).rotateCCW(90).rotateCCW(90) == g &&
      g.rotateCCW(90).rotateCCW(270) == g &&
      g.rotateCCW(180).rotateCCW(180) == g
    }

  property("offset sort restores interleaving after any permutation (§7.5-2)") =
    forAll(Gen.choose(1, 40), Gen.long) { (n: Int, seed: Long) =>
      val spans = (0 until n).map(i =>
        Span(if (i % 3 == 0) "media" else "text", s"t$i", s"m$i", i))
      new scala.util.Random(seed).shuffle(spans).sortBy(_.offset) == spans
    }

  private val binGen = for {
    w <- Gen.choose(1, 24); h <- Gen.choose(1, 24)
    bits <- Gen.listOfN(w * h, Gen.oneOf(true, false, false))
  } yield new Bin(w, h, bits.toArray)

  property("CC components partition the ink exactly") =
    forAll(binGen) { b: Bin =>
      val comps = ConnectedComponents.label(b)
      comps.map(_.area).sum == b.inkCount &&
      comps.forall(c => c.bbox.area >= c.area)
    }

  /** Flood-fill oracle: one 8-connected fill per unvisited ink pixel in
    * raster order, so the comps come in order of their first pixel, then
    * stable-sorted by (y1, x1, x2, y2) as `label` documents. */
  private def floodFill(b: Bin): Seq[Comp] = {
    val seen = new Array[Boolean](b.w * b.h)
    val out = Seq.newBuilder[Comp]
    for (start <- 0 until b.w * b.h if b.b(start) && !seen(start)) {
      var minX = b.w; var minY = b.h; var maxX = -1; var maxY = -1; var n = 0
      val stack = scala.collection.mutable.Stack(start)
      seen(start) = true
      while (stack.nonEmpty) {
        val i = stack.pop()
        val x = i % b.w; val y = i / b.w
        minX = minX.min(x); maxX = maxX.max(x)
        minY = minY.min(y); maxY = maxY.max(y); n += 1
        for (dy <- -1 to 1; dx <- -1 to 1) {
          val nx = x + dx; val ny = y + dy
          if (nx >= 0 && nx < b.w && ny >= 0 && ny < b.h) {
            val j = ny * b.w + nx
            if (b.b(j) && !seen(j)) { seen(j) = true; stack.push(j) }
          }
        }
      }
      out += Comp(BBox(minX, minY, maxX + 1, maxY + 1), n)
    }
    out.result().sortBy(c => (c.bbox.y1, c.bbox.x1, c.bbox.x2, c.bbox.y2))
  }

  private val ccPlaneGen = for {
    w <- Gen.choose(1, 40); h <- Gen.choose(1, 40)
    inkPct <- Gen.oneOf(15, 45, 70) // sparse, dense and merging ink
    bits <- Gen.listOfN(w * h, Gen.choose(0, 99).map(_ < inkPct))
  } yield new Bin(w, h, bits.toArray)

  property("CC equals a flood-fill oracle: comps, bboxes, areas, order") =
    forAll(ccPlaneGen) { b: Bin => ConnectedComponents.label(b) == floodFill(b) }

  property("Otsu binarizeInv marks exactly the below-threshold pixels") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 255))) { (pxs: List[Int]) =>
      val g = Gray.fromInts(pxs.size, 1, pxs.toArray)
      val t = Otsu.threshold(g)
      val b = Otsu.binarizeInv(g)
      (0 until g.px.length).forall(i => b.b(i) == ((g.px(i) & 0xFF) <= t))
    }
}
