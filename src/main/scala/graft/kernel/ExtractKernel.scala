package graft.kernel

import graft.core.{Crop, Doc, Span}
import graft.img.Gray
import graft.synth.PageRenderer

/** Pluggable media fetch+decode — the object-store/codec seam. The
  * synthetic store re-renders deterministically from the media_ref
  * (SURVEY §2.1 S4). */
trait MediaStore extends Serializable {
  def decode(mediaRef: String): Gray
}
object SyntheticStore extends MediaStore {
  def decode(mediaRef: String): Gray = PageRenderer.decode(mediaRef)
}

/** Kernel stats of one work unit, counted inside its task; ExtractJob
  * carries them on into its doc's output row and from there into the
  * lineage table (north_rule: span counts + OCR confidence histograms per
  * partition). */
final class KernelStats {
  var mediaSpanCount = 0L
  var textSpanCount = 0L
  val confHist = new Array[Long](10) // [0.0,0.1) .. [0.9,1.0]

  def addHist(h: Array[Long]): Unit = {
    var i = 0
    while (i < 10) { confHist(i) += h(i); i += 1 }
  }
}

/** The extraction kernel: one document in, its extracted span
  * sequence out. Runs inside ExtractJob's one kernel stage
  * (SURVEY §3.1 "Spark lifecycle equivalent") so the interleaving
  * invariant is enforced in exactly one place (§2.10).
  */
object ExtractKernel {

  /** Extract one document:
    *  - spans processed in offset order (interleaving preserved);
    *  - the cover page is dropped ([[contentSpans]]);
    *  - kind='media' → decode + recognize (crop config looked up per doc,
    *    J1 joradp_parse.py:84-90);
    *  - kind='text'  → HTML boilerplate strip.
    */
  def extractDoc(doc: Doc, store: MediaStore, stats: KernelStats): Doc = {
    val crop = CropConfig.lookup(doc.doc_id)
    Doc(doc.doc_id, contentSpans(doc).map(extractSpan(_, crop, store, stats)))
  }

  /** The spans extraction keeps: `doc`'s spans in offset order without
    * the first media span, the cover page — the reference never processes
    * page 1 (pdf_parser.py:126, :161; orc_script cell 3 reads
    * reader.pages[1:]). */
  def contentSpans(doc: Doc): Seq[Span] = {
    val ordered = doc.spans.sortBy(_.offset)
    val coverIdx = ordered.indexWhere(_.kind == "media")
    if (coverIdx < 0) ordered else ordered.patch(coverIdx, Nil, 1)
  }

  /** Extract one content span — the per-span seam of [[extractDoc]] and
    * of every ExtractJob work unit. Adds the span to `stats` (kind counts,
    * confidence histogram). */
  def extractSpan(span: Span, crop: Crop, store: MediaStore,
                  stats: KernelStats): Span =
    span.kind match {
      case "media" =>
        val page = Recognize.recognizeStored(store.decode(span.media_ref), crop)
        stats.addHist(page.confHist)
        stats.mediaSpanCount += 1
        Span("media", page.text, span.media_ref, span.offset)
      case "text" =>
        stats.textSpanCount += 1
        Span("text", BoilerplateStrip.strip(span.text), "", span.offset)
      case other =>
        throw new IllegalArgumentException(
          s"unknown span kind '$other' at offset ${span.offset}")
    }

  def extractDoc(doc: Doc): Doc = extractDoc(doc, SyntheticStore, new KernelStats)
}
