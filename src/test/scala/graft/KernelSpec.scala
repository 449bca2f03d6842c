package graft

import graft.core.Doc
import graft.img.{Bin, ConnectedComponents}
import graft.kernel._
import graft.synth.{CorpusGen, PageRenderer, Rng}
import org.scalatest.funsuite.AnyFunSuite

class KernelSpec extends AnyFunSuite {

  test("every font glyph is a single 8-connected component ('=' excepted: " +
       "its bars share an x-span so x-overlap grouping merges them)") {
    for ((c, b) <- GlyphFont.glyphs if c != '=')
      assert(ConnectedComponents.label(b).size == 1, s"glyph '$c' fragmented")
    // '=' is exactly two components with an IDENTICAL x-span — the
    // precondition for Recognize.groupGlyphs to fuse them into one cell
    val bars = ConnectedComponents.label(GlyphFont.glyphs('='))
    assert(bars.size == 2)
    assert(bars.map(p => (p.bbox.x1, p.bbox.x2)).distinct.size == 1)
  }

  test("font templates are pairwise distinct after tight crop") {
    val seen = GlyphFont.templates.values.map(t => (t.w, t.h, t.b.toSeq)).toVector
    assert(seen.distinct.size == seen.size)
  }

  test("classify returns exact char with confidence 1.0 for every glyph") {
    for ((c, t) <- GlyphFont.templates)
      assert(GlyphFont.classify(t) == ((c, 1.0)))
  }

  test("gap clustering is order-invariant and breaks at gaps (A2)") {
    val xs = Seq(10, 11, 30, 31, 32, 90)
    val cl = Clustering.cluster(xs, 5)(identity)
    assert(cl == Vector(Vector(10, 11), Vector(30, 31, 32), Vector(90)))
    assert(Clustering.cluster(xs.reverse, 5)(identity) == cl)
  }

  test("proximity dedup keeps first of close runs (A3)") {
    val xs = Seq(10, 12, 30, 33, 60)
    assert(Clustering.dedupByProximity(xs, 5)(identity) == Vector(10, 30, 60))
  }

  test("rotate(180) is a deliberate no-op (pdf_parser.py:425-433 quirk)") {
    val b = Bin(2, 1, Seq("#."))
    assert(Recognize.rotate(b, 180) eq b)
    assert(Recognize.rotate(b, 90) == b.rotateCCW(90))
    assertThrows[IllegalArgumentException](Recognize.rotate(b, 45))
  }

  test("crop config: first-match interval lookup, error on miss (J1)") {
    assert(CropConfig.lookup("F1962001") == CropConfig.table.head.crop)
    assert(CropConfig.lookup("F1997205") == CropConfig.table(2).crop)
    assertThrows[IllegalArgumentException](CropConfig.lookup("F2026001"))
  }

  test("renderer → recognizer roundtrip: upright page") {
    val docId = "F1985003"
    val crop = CropConfig.lookup(docId)
    val page = 1
    assume(PageRenderer.storedRotation(docId, page) == 0)
    val got = Recognize.recognizeStored(PageRenderer.render(docId, page), crop)
    assert(got.text == PageRenderer.bodyText(docId, page))
    assert(got.glyphCount > 0 && got.confHist(9) == got.glyphCount)
  }

  test("renderer → recognizer roundtrip: rotated pages are deskewed") {
    // scan pages until we see both a 90 and a 270 stored rotation
    val docId = "F2010007"
    val crop = CropConfig.lookup(docId)
    var seen = Set.empty[Int]
    for (page <- 1 to 60 if seen.size < 3) {
      val rot = PageRenderer.storedRotation(docId, page)
      if (!seen(rot)) {
        val got = Recognize.recognizeStored(PageRenderer.render(docId, page), crop)
        assert(got.text == PageRenderer.bodyText(docId, page),
               s"mismatch at page $page rot $rot")
        seen += rot
      }
    }
    assert(seen == Set(0, 90, 270), s"rotations seen: $seen")
  }

  test("boilerplate strip: keeps dense paragraphs, drops chrome") {
    val markup =
      """<html><head><title>site title here</title></head><body>
        |<nav><a href="#">one</a><a href="#">two</a></nav>
        |<p>this is the planted main content paragraph with many words</p>
        |<div class="links"><a href="#">aa</a> <a href="#">bb</a> <a href="#">cc</a></div>
        |<div>ok</div>
        |<footer>copyright somebody</footer>
        |</body></html>""".stripMargin
    assert(BoilerplateStrip.strip(markup) ==
      "this is the planted main content paragraph with many words")
  }

  test("boilerplate strip: entities, inline tags, whitespace collapse") {
    val markup = "<p>alpha <b>beta</b> gamma &amp; delta   epsilon zeta eta</p>"
    assert(BoilerplateStrip.strip(markup) == "alpha beta gamma & delta epsilon zeta eta")
  }

  test("generated text spans strip back to their golden") {
    val rng = new Rng(1234L)
    for (_ <- 0 until 50) {
      val (markup, golden) = CorpusGen.genTextSpan(rng)
      assert(BoilerplateStrip.strip(markup) == golden)
    }
  }

  test("extractDoc matches corpus golden, span for span (the invariant)") {
    val (inputs, goldens) = CorpusGen.corpus(6)
    for ((in, gold) <- inputs.zip(goldens)) {
      val got = ExtractKernel.extractDoc(in)
      assert(got.spans.map(_.offset) == gold.spans.map(_.offset), in.doc_id)
      for ((g, e) <- got.spans.zip(gold.spans)) {
        assert(g.kind == e.kind, s"${in.doc_id}@${e.offset}")
        assert(g.media_ref == e.media_ref, s"${in.doc_id}@${e.offset}")
        assert(g.text == e.text,
          s"${in.doc_id}@${e.offset}: got <${g.text.take(120)}> want <${e.text.take(120)}>")
      }
    }
  }

  test("every doc in 0-479 equals its golden (table pages with specks)") {
    // table pages whose margin speck bridges two cell digits or lifts one
    // cell box by 1 px: F1962003, F1966007, F1977003, F1983002, F1993003
    // and F2011003 lie in this window
    val bad = (0 until 480).filter { i =>
      val (in, gold) = CorpusGen.genDoc(i)
      ExtractKernel.extractDoc(in) != gold
    }.map(CorpusGen.docIdFor)
    assert(bad.isEmpty, s"docs differing from their golden: $bad")
  }

  test("kernel stats count spans and fill the confidence histogram") {
    val (inputs, _) = CorpusGen.corpus(2)
    val st = new KernelStats
    inputs.foreach(d => ExtractKernel.extractDoc(d, SyntheticStore, st))
    assert(st.docCount == 2)
    assert(st.spanCount == st.mediaSpanCount + st.textSpanCount)
    assert(st.confHist.sum > 0 && st.confHist(9) == st.confHist.sum)
  }

  test("horizontal-rule pages roundtrip exactly (rules graphics-gated)") {
    val docId = "F1970005"
    val crop = CropConfig.lookup(docId)
    var checked = 0
    for (page <- 1 to 150 if checked < 3) {
      if (PageRenderer.hruleLines(docId, page).nonEmpty &&
          PageRenderer.storedRotation(docId, page) == 0) {
        val got = Recognize.recognizeStored(PageRenderer.render(docId, page), crop)
        assert(got.text == PageRenderer.bodyText(docId, page),
               s"hrule mismatch page $page")
        checked += 1
      }
    }
    assert(checked == 3, s"only $checked hrule pages found")
  }

  test("soft-gutter two-column pages roundtrip exactly (Deux Colonnes soft)") {
    val docId = "F1988004"
    val crop = CropConfig.lookup(docId)
    var checked = 0
    for (page <- 1 to 150 if checked < 3) {
      val layout = PageRenderer.layoutFor(docId, page)
      if (layout.twoCol.nonEmpty &&
          PageRenderer.gutterWFor(docId, page) == PageRenderer.SoftGutterW &&
          PageRenderer.storedRotation(docId, page) == 0) {
        val got = Recognize.recognizeStored(PageRenderer.render(docId, page), crop)
        assert(got.text == PageRenderer.bodyText(docId, page),
               s"soft-gutter mismatch page $page")
        checked += 1
      }
    }
    assert(checked == 3, s"only $checked soft-gutter pages found")
  }

  test("nested indented blocks roundtrip exactly (Layouts Imbriqués)") {
    val docId = "F2001006"
    val crop = CropConfig.lookup(docId)
    var checked = 0
    for (page <- 1 to 200 if checked < 3) {
      if (PageRenderer.nestedBlock(docId, page).nonEmpty &&
          PageRenderer.storedRotation(docId, page) == 0) {
        val got = Recognize.recognizeStored(PageRenderer.render(docId, page), crop)
        // exact equality implies the indent did NOT read as a column
        // gutter (a spurious split would reorder lines)
        assert(got.text == PageRenderer.bodyText(docId, page),
               s"nested-block mismatch page $page")
        checked += 1
      }
    }
    assert(checked == 3, s"only $checked nested-block pages found")
  }

  test("corpus doc ids are unique and match the reference regex") {
    val ids = (0 until 500).map(CorpusGen.docIdFor)
    assert(ids.distinct.size == ids.size)
    assert(ids.forall(_.matches("^F\\d{7}$")))
  }

  test("scale-block ids: in-format, unique across both blocks, crop-" +
       "covered, reference-era ids unchanged, error-on-miss intact") {
    // reference-era block byte-stable (every earlier round's ids)
    assert(CorpusGen.docIdFor(0) == "F1962000")
    assert(CorpusGen.docIdFor(59999) == "F2021999")
    // scale block: pre-era years, same ^F\d{7}$ format, crop-covered
    val scale = Seq(60000, 60001, 60500, 559999).map(CorpusGen.docIdFor)
    assert(scale.head == "F1462000" && scale.forall(_.matches("^F\\d{7}$")))
    scale.foreach(id => CropConfig.lookup(id)) // must not throw
    assert(CropConfig.lookup("F1800500") == CropConfig.table.last.crop)
    // spot uniqueness across the block boundary
    val sample = ((0 until 2000) ++ (59000 until 62000) ++
      (557000 until 560000)).map(CorpusGen.docIdFor)
    assert(sample.distinct.size == sample.size)
    // beyond total capacity still fails loudly; post-era ids still miss
    assertThrows[IllegalArgumentException](CorpusGen.docIdFor(560000))
    assertThrows[IllegalArgumentException](CropConfig.lookup("F2026001"))
  }
}
