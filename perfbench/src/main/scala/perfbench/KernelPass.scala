package perfbench

import graft.core.{BBox, Crop, Doc}
import graft.img.{Deskew, Gray, Otsu, PlanePool}
import graft.kernel.{BoilerplateStrip, CropConfig, LayoutSegment, MatchMaking, Recognize, TableDetect}
import graft.synth.PageRenderer
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

/** Direct-call pass over the pages one op extracts, outside Spark, on up
  * to `threads` threads. Each media page is decoded and recognized with
  * the program's own calls (`PageRenderer.decode`, `Recognize
  * .recognizeStored`), and recognized once more stage by stage through the
  * public functions `recognizeStored` is made of, so the stage times can
  * be checked against the whole call. Times are summed over threads. */
object KernelPass {

  private sealed trait Item
  private final case class Page(docId: String, page: Int, ref: String) extends Item
  private final case class Text(markup: String) extends Item

  private final class Acc {
    var decode, downsample, otsu, deskew, orient, segClassify, layout = 0L
    var recognize, strip, tableDetect = 0L
    var pages, texts, tablePages, decompMismatch = 0L
    val pageNs = ArrayBuffer[Long]()
  }

  /** The spans `ExtractKernel.extractDoc` would process: all but the
    * cover page (the first media span in offset order). */
  private def items(docs: Seq[Doc]): Vector[Item] = docs.toVector.flatMap { d =>
    val ordered = d.spans.sortBy(_.offset)
    val cover = ordered.indexWhere(_.kind == "media")
    ordered.zipWithIndex.collect {
      case (s, i) if i != cover && s.kind == "media" =>
        val page = s.media_ref.substring(s.media_ref.lastIndexOf('/') + 1).toInt
        Page(d.doc_id, page, s.media_ref): Item
      case (s, i) if i != cover && s.kind == "text" => Text(s.text): Item
    }
  }

  def run(docs: Seq[Doc], threads: Int): (Map[String, Double], Seq[(String, Double)]) = {
    val work = items(docs)
    // the extract path never runs the table detector, so give its JIT a
    // few untimed pages first, as the ops did for the rest of the kernel
    work.collect { case p: Page if hasTable(p) => p }.take(4)
      .foreach(p => TableDetect.detectTables(PageRenderer.decode(p.ref)))
    val next = new AtomicInteger(0)
    val accs = Vector.fill(threads)(new Acc)
    val t0 = System.nanoTime()
    val workers = accs.map { acc =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < work.length) {
          work(i) match {
            case p: Page => page(p, acc, wholeFirst = i % 2 == 0)
            case Text(m) =>
              val a = System.nanoTime()
              BoilerplateStrip.strip(m)
              acc.strip += System.nanoTime() - a
              acc.texts += 1
          }
          i = next.getAndIncrement()
        }
      }, "perfbench-kernel")
      t.start()
      t
    }
    workers.foreach(_.join())
    val wallS = Stats.secondsSince(t0)

    def sum(f: Acc => Long): Double = accs.map(f).sum.toDouble
    val s = (f: Acc => Long) => sum(f) / 1e9
    val pageMs = accs.flatMap(_.pageNs).map(_ / 1e6)
    val stages = Seq(
      "img.downsample_s" -> s(_.downsample),
      "img.otsu_s" -> s(_.otsu),
      "img.deskew_s" -> s(_.deskew),
      "kernel.orient_s" -> s(_.orient),
      "kernel.seg_classify_s" -> s(_.segClassify),
      "kernel.layout_s" -> s(_.layout))
    val metrics = Map(
      "synth.decode_s" -> s(_.decode),
      "kernel.recognize_s" -> s(_.recognize),
      "kernel.strip_s" -> s(_.strip),
      "kernel.table_detect_s" -> s(_.tableDetect),
      "kernel.pages" -> sum(_.pages),
      "kernel.text_spans" -> sum(_.texts),
      "kernel.table_pages" -> sum(_.tablePages),
      "kernel.page_ms_p50" -> (if (pageMs.isEmpty) 0.0 else Stats.median(pageMs)),
      "kernel.page_ms_max" -> (if (pageMs.isEmpty) 0.0 else pageMs.max),
      "kernel.pass_wall_s" -> wallS,
      "check.kernel_decomp_mismatch" -> sum(_.decompMismatch)) ++ stages
    (metrics, stages)
  }

  private def hasTable(p: Page): Boolean =
    PageRenderer.layoutFor(p.docId, p.page).table.isDefined &&
      PageRenderer.storedRotation(p.docId, p.page) == 0

  /** One media page: decoded once, then recognized whole and stage by
    * stage, in an order that alternates between pages so that neither
    * timing always runs on the warmer caches. */
  private def page(p: Page, acc: Acc, wholeFirst: Boolean): Unit = {
    val crop = CropConfig.lookup(p.docId)
    val a = System.nanoTime()
    val stored = PageRenderer.decode(p.ref)
    val decodeNs = System.nanoTime() - a
    acc.decode += decodeNs
    acc.pages += 1
    def whole(): String = {
      val b = System.nanoTime()
      val text = Recognize.recognizeStored(stored, crop).text
      val ns = System.nanoTime() - b
      acc.recognize += ns
      acc.pageNs += decodeNs + ns
      text
    }
    if (wholeFirst) {
      val text = whole()
      if (staged(stored, crop, acc) != text) acc.decompMismatch += 1
    } else {
      val text = staged(stored, crop, acc)
      if (whole() != text) acc.decompMismatch += 1
    }

    // the x-queries' table detector, on the unrotated pages with a table
    if (hasTable(p)) {
      val d = System.nanoTime()
      TableDetect.detectTables(stored)
      acc.tableDetect += System.nanoTime() - d
      acc.tablePages += 1
    }
  }

  /** The page stage by stage: Recognize's private uprightBin, then the
    * body crop, segmentation and layout ordering of recognizeStored. */
  private def staged(stored: Gray, crop: Crop, acc: Acc): String = {
    val n = stored.px.length / (Recognize.PageScale * Recognize.PageScale)
    val t0 = System.nanoTime()
    val logical = stored.downsample(Recognize.PageScale, PlanePool.bytes("pb.ds", n))
    val t1 = System.nanoTime()
    val bin = Otsu.binarizeInv(logical, PlanePool.bools("pb.bin", n))
    val t2 = System.nanoTime()
    val portrait = bin.w < bin.h
    val pre = if (portrait) Deskew.unshear(bin, PlanePool.bools("pb.deskew", n)) else bin
    val t3 = System.nanoTime()
    val angle = Recognize.detectOrientation(pre)
    val up0 = Recognize.rotate(pre, angle, PlanePool.bools("pb.upright", n))
    val t4 = System.nanoTime()
    val upright =
      if (portrait) up0 else Deskew.unshear(up0, PlanePool.bools("pb.deskew", n))
    val t5 = System.nanoTime()
    val body = upright.crop(
      BBox(crop.left, crop.top, upright.w - crop.right, upright.h - crop.bottom),
      PlanePool.bools("pb.body",
        (upright.w - crop.left - crop.right) * (upright.h - crop.top - crop.bottom)))
    val seg = Recognize.segmentAndClassify(body)
    val t6 = System.nanoTime()
    val layouts = LayoutSegment.segment(seg.lines, body.w, body.h)
    val mm = MatchMaking.matchTextsToLayouts(layouts, seg.lines, margin = 10)
    val text = (mm.matched.sortBy(_.position).flatMap(_.texts) ++ mm.rest)
      .map(_.text).mkString("\n")
    val t7 = System.nanoTime()
    acc.downsample += t1 - t0
    acc.otsu += t2 - t1
    acc.deskew += (t3 - t2) + (t5 - t4)
    acc.orient += t4 - t3
    acc.segClassify += t6 - t5
    acc.layout += t7 - t6
    text
  }
}
