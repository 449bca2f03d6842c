package graft

import graft.core.{BBox, Crop}
import graft.img._
import org.scalatest.funsuite.AnyFunSuite

class ImgSpec extends AnyFunSuite {

  test("rotate roundtrips and 180 composition") {
    val g = Gray.fromInts(3, 2, Array(1, 2, 3, 4, 5, 6))
    assert(g.rotateCCW(90).rotateCCW(270) == g)
    assert(g.rotateCCW(270).rotateCCW(90) == g)
    assert(g.rotateCCW(90).rotateCCW(90) == g.rotateCCW(180))
    // CCW 90 of [[1,2,3],[4,5,6]] → [[3,6],[2,5],[1,4]]
    assert(g.rotateCCW(90).px.toSeq == Seq(3, 6, 2, 5, 1, 4).map(_.toByte))
  }

  test("crop removes exact margins") {
    val g = Gray.fromInts(4, 4, Array.tabulate(16)(identity))
    val c = g.crop(Crop(top = 1, left = 1, right = 1, bottom = 1))
    assert(c.w == 2 && c.h == 2)
    assert(c.px.toSeq == Seq(5, 6, 9, 10).map(_.toByte))
  }

  test("crop bounds are validated (pdf_parser.py:403-404)") {
    val g = Gray.fill(4, 4, 0)
    assertThrows[IllegalArgumentException](g.crop(Crop(2, 2, 2, 2)))
  }

  test("downsample(2) is exact integer box mean") {
    val g = Gray.fromInts(2, 2, Array(10, 20, 30, 40))
    assert(g.downsample(2).px.toSeq == Seq(25.toByte))
  }

  test("Otsu splits a bimodal histogram between the modes") {
    val px = Array.fill(50)(30) ++ Array.fill(50)(220)
    val t = Otsu.threshold(Gray.fromInts(10, 10, px))
    assert(t >= 30 && t < 220)
    val b = Otsu.binarizeInv(Gray.fromInts(10, 10, px))
    assert(b.inkCount == 50)
  }

  test("connected components: two separated blobs, 8-connectivity diagonal") {
    val b = Bin(5, 3, Seq(
      "##..#",
      "##...",
      "...#."))
    val comps = ConnectedComponents.label(b)
    // blob1: 2x2 at (0,0); blob2: (4,0); blob3: (3,2) diag-touches blob2? No:
    // (4,0)-(3,2) not adjacent. (3,2) is alone.
    assert(comps.size == 3)
    assert(comps.head.bbox == BBox(0, 0, 2, 2) && comps.head.area == 4)
  }

  test("connected components: diagonal pixels merge (8-conn)") {
    val b = Bin(3, 3, Seq(
      "#..",
      ".#.",
      "..#"))
    assert(ConnectedComponents.label(b).size == 1)
  }

  test("connected components: isolated dots at even coordinates, the " +
       "worst case for the label count") {
    // every dot is its own run and its own component:
    // ceil(w/2)*ceil(h/2) of them, which an odd side puts above w*h/4
    for ((w, h, dots) <- Seq((301, 301, 22801), (721, 961, 173641))) {
      val b = new Bin(w, h, Array.tabulate(w * h) { i =>
        (i % w) % 2 == 0 && (i / w) % 2 == 0 })
      val comps = labelOnFreshThread(b)
      assert(comps.size == dots, s"${w}x$h")
      assert(comps.forall(_.area == 1), s"${w}x$h")
    }
  }

  test("connected components: vertical stripes, the worst case for the " +
       "run count") {
    // every even column inked: h*ceil(w/2) runs, each row's runs united
    // with the row above into ceil(w/2) full-height components
    for ((w, h) <- Seq((301, 301), (721, 961))) {
      val b = new Bin(w, h, Array.tabulate(w * h)(i => (i % w) % 2 == 0))
      val comps = labelOnFreshThread(b)
      assert(comps.map(_.bbox) == (0 until w by 2).map(x => BBox(x, 0, x + 1, h)),
        s"${w}x$h")
      assert(comps.forall(_.area == h), s"${w}x$h")
    }
  }

  /** Label `b` on a new thread. A fresh thread starts with an empty
    * PlanePool, so no scratch grown by an earlier test hides a run table
    * that grows wrongly from its first size. */
  private def labelOnFreshThread(b: Bin): IndexedSeq[Comp] = {
    var comps: IndexedSeq[Comp] = null
    var failure: Throwable = null
    val t = new Thread(() =>
      try comps = ConnectedComponents.label(b)
      catch { case e: Throwable => failure = e })
    t.start(); t.join()
    if (failure != null) throw failure
    comps
  }

  test("morphological open removes small features, keeps long lines") {
    val rows = Seq(
      "..........",
      ".########.",
      "....#.....",
      "..........")
    val b = Bin(10, 4, rows)
    val opened = Morph.open(b, 5, 1)
    // the 8-long horizontal line survives, the single pixel at (4,2) dies
    assert(opened(4, 1) && opened(5, 1))
    assert(!opened(4, 2))
  }

  test("morphological close bridges small gaps") {
    val b = Bin(9, 1, Seq("###...###"))
    val closed = Morph.close(b, 5, 1)
    assert(closed(4, 0))
  }

  test("Sobel responds to vertical edges in x-gradient") {
    val px = Array.tabulate(6 * 3)((i) => if (i % 6 < 3) 0 else 255)
    val gx = Sobel.absX(Gray.fromInts(6, 3, px))
    assert((gx.px(1 * 6 + 2) & 0xFF) > 200) // edge between col2 and col3
    assert((gx.px(1 * 6 + 0) & 0xFF) == 0)  // flat region
    val ink = Sobel.thresholdAbove(gx, 200)
    assert(ink(2, 1) || ink(3, 1))
  }

  test("BBox algebra: iou / containment / expand-clamp") {
    val a = BBox(0, 0, 10, 10)
    val b = BBox(5, 5, 15, 15)
    assert(a.intersectionArea(b) == 25)
    assert(math.abs(a.iou(b) - 25.0 / 175.0) < 1e-12)
    assert(a.contains(BBox(2, 2, 8, 8)))
    assert(!a.contains(b))
  }
}
