package graft.synth

import graft.core.{Doc, Span}
import graft.functions.TextHashes
import graft.kernel.BoilerplateStrip

/** Deterministic synthetic corpus generator (seed-stable) producing the
  * BASELINE input_hint table shape plus its golden extraction output.
  * Replaces the reference's HTTP corpus ingest (classes/joradp_importer.py)
  * in a zero-egress sandbox; fixture classes follow FIXTURES.md §3.
  */
object CorpusGen {

  /** Bump when generator output changes — benchmark corpus caches key on
    * it so a stale on-disk corpus is never silently reused. */
  val GenVersion = 6 // v4: small skew; v5: figures; v6: inline-math lines

  private val LowerWords: Vector[String] = Vector(
    "article", "decret", "ministre", "republique", "journal", "officiel",
    "nationale", "president", "conseil", "portant", "modifiant", "relatif",
    "dispositions", "chapitre", "section", "finances", "budget", "exercice",
    "numero", "annee", "executif", "gouvernement", "general", "direction",
    "service", "public", "code", "commerce", "travail", "justice", "energie",
    "commune", "wilaya", "application", "organisation", "fonctionnement",
  )

  /** Unique reference-style doc id: ^F\d{7}$ (test_tables.py:63).
    *
    * Capacity: the reference-era block (years 1962-2021 × nums 000-999)
    * holds 60,000 ids — the cap the round-4 50k smoke ran under. Ids
    * beyond it map into the SYNTHETIC PRE-ERA block F1462000-F1961999
    * (500 years × 1000 nums = 500,000 more), which
    * [[graft.kernel.CropConfig]] covers with one documented scale
    * interval, so half-million-doc scale smokes stay inside the pinned
    * ^F\d{7}$ format and the error-on-miss lookup semantics (F2026+
    * still misses). Indices < 60000 generate byte-identical ids to
    * every earlier round. */
  def docIdFor(i: Int): String = {
    if (i < 60000) {
      val year = 1962 + (i % 60)
      val num = i / 60
      f"F$year%04d$num%03d"
    } else {
      val j = i - 60000
      val year = 1462 + (j % 500)
      val num = j / 500
      require(num <= 999, s"corpus capacity exceeded at doc $i")
      f"F$year%04d$num%03d"
    }
  }

  /** (input doc, golden extracted doc). Heavy docs model multi-hundred-page
    * skew (the reason ExtractJob splits heavy docs into span units, SURVEY §4). */
  def genDoc(i: Int, heavy: Boolean = false): (Doc, Doc) = {
    val docId = docIdFor(i)
    val rng = new Rng(TextHashes.fnv64(docId) ^ 0xC0FFEE42L)
    val nContent = if (heavy) rng.between(40, 80) else rng.between(3, 11)
    val in = Vector.newBuilder[Span]
    val gold = Vector.newBuilder[Span]
    // span 0: cover page — dropped by extraction (pdf_parser.py:126)
    in += Span("media", "", PageRenderer.mediaRef(docId, 0), 0)
    var page = 1
    var off = 1
    var k = 0
    while (k < nContent) {
      if (rng.nextInt(100) < 40) {
        val (markup, golden) = genTextSpan(rng)
        in += Span("text", markup, "", off)
        gold += Span("text", golden, "", off)
      } else {
        val ref = PageRenderer.mediaRef(docId, page)
        in += Span("media", "", ref, off)
        gold += Span("media", PageRenderer.bodyText(docId, page), ref, off)
        page += 1
      }
      off += 1
      k += 1
    }
    (Doc(docId, in.result()), Doc(docId, gold.result()))
  }

  /** Whole corpus: (inputs, goldens), both in doc-index order.
    * heavyEvery > 0 makes every k-th doc a heavy (skewed) one.
    * Driver-side materialization — TEST fixtures only; production paths
    * (Main gen, Bench, x-queries) use the distributed [[inputDS]]. */
  def corpus(nDocs: Int, heavyEvery: Int = 0): (Vector[Doc], Vector[Doc]) = {
    val pairs = Vector.tabulate(nDocs)(i =>
      genDoc(i, heavy = heavyEvery > 0 && i % heavyEvery == heavyEvery - 1))
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** Distributed corpus generation: genDoc(i) is seed-pure, so the corpus
    * is a map over spark.range — no driver-side Vector at any scale (the
    * north_rule's 10^12-doc corpus never fits a driver). */
  def inputDS(spark: org.apache.spark.sql.SparkSession, nDocs: Int,
              heavyEvery: Int = 0): org.apache.spark.sql.Dataset[Doc] = {
    import spark.implicits._
    val he = heavyEvery
    spark.range(nDocs).mapPartitions(_.map(i =>
      genDoc(i.toInt, heavy = he > 0 && i % he == he - 1)._1))
  }

  private def words(rng: Rng, n: Int): Vector[String] =
    Vector.fill(n)(LowerWords(rng.nextInt(LowerWords.length)))

  /** One HTML-ish text span: boilerplate (head/nav/link-farm/short-promo/
    * footer) around planted main-content paragraphs. Golden = the planted
    * paragraphs exactly as the stripper must recover them. */
  def genTextSpan(rng: Rng): (String, String) = {
    val sb = new StringBuilder
    sb.append("<html><head><title>")
      .append(words(rng, 3).mkString(" "))
      .append("</title><style>body{color:#000;}</style></head><body>\n")
    sb.append("<header><a href=\"/\">accueil</a> ")
      .append(words(rng, 2).mkString(" "))
      .append("</header>\n")
    sb.append("<nav><ul>")
    for (w <- words(rng, rng.between(3, 6)))
      sb.append("<li><a href=\"#\">").append(w).append("</a></li>")
    sb.append("</ul></nav>\n<div id=\"content\">\n")

    val nParas = rng.between(1, 3)
    val goldenParas = Vector.newBuilder[String]
    for (_ <- 0 until nParas) {
      val ws = words(rng, rng.between(12, 30))
      // occasionally: an entity token and an inline <b> wrap
      val withEntity =
        if (rng.nextInt(4) == 0) {
          val pos = rng.nextInt(ws.length)
          ws.updated(pos, ws(pos) + " &amp; " + LowerWords(rng.nextInt(LowerWords.length)))
        } else ws
      val boldIdx = if (rng.nextInt(3) == 0) rng.nextInt(withEntity.length) else -1
      val markup = withEntity.zipWithIndex.map { case (w, j) =>
        if (j == boldIdx) s"<b>$w</b>" else w
      }.mkString(" ")
      sb.append("<p>").append(markup).append("</p>\n")
      goldenParas += BoilerplateStrip.collapse(
        BoilerplateStrip.decodeEntities(withEntity.mkString(" ")))
    }
    sb.append("</div>\n<div class=\"links\">")
    for (w <- words(rng, rng.between(3, 6)))
      sb.append("<a href=\"#\">").append(w).append("</a> ")
    sb.append("</div>\n<div>ok</div>\n") // short promo: dropped (< MinBlockChars)
    sb.append("<footer>copyright ").append(words(rng, 2).mkString(" "))
      .append("</footer></body></html>")
    (sb.toString, goldenParas.result().mkString("\n"))
  }
}
