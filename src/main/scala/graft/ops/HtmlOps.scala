package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** HTML → text extraction — the web-crawl FRONT DOOR every text
  * pipeline runs before langId/quality/dedup ever see a document:
  * tag-strip, script/style exclusion, entity decode, and
  * jusText-style boilerplate-block rejection (link-density + minimum
  * word count). The reference's corpus is tabular
  * (`dags/mitma/fetch_url_mitma.py:18-63` downloads ready-made CSVs),
  * so it never needed this; a crawled-text corpus cannot skip it —
  * the text battery ([[TextOps]]) starts from already-clean
  * `documents.text`, and this operator is what PRODUCES that clean
  * text from markup.
  *
  * Verification follows the [[graft.sources.ImageFiles]] codec
  * discipline — generator and parser proven against each other, with
  * the ORIGINAL text as the closed-form ground truth: [[synthPage]]
  * deterministically wraps each document's text in a full HTML page
  * (head/title, a script block that itself contains decoy `<p>`
  * markup, a style block, a link-only nav, a 2-word h1, the text as
  * two entity-encoded paragraphs — every 'a' becomes `&#97;`, so
  * numeric-entity decode is exercised on every row — a link-only
  * related list, a link-dense footer), and [[parseHtml]] +
  * [[htmlExtract]]'s keep rules must recover EXACTLY the original
  * text plus closed-form block tallies. Any parser defect — a tag
  * boundary missed, an entity mis-decoded, a script byte leaking, a
  * boilerplate block kept — shifts `extracted` or a tally and fails
  * the driver hash. The extracted text then flows through the
  * FACTORED [[TextOps.qualityKeep]] gate (the pairCuration
  * composition discipline: one predicate definition, reused), so the
  * crawl front door provably composes with the existing battery.
  *
  * Scale shape: pure map-side — one `mapPartitions` pass builds and
  * parses per row with zero shuffle (the only exchange is the final
  * presentation sort); the parser is a single-pass character walk
  * (no backtracking, no regex catastrophes), total on arbitrary
  * truncated/corrupt input (fuzz-spec'd over every prefix, the
  * jpegSof discipline). At 100 TB this is exactly the first stage of
  * the crawl DAG: embarrassingly parallel, bounded memory per row,
  * no driver involvement.
  */
object HtmlOps {

  /** One extracted block: whitespace-normalized text, word count,
    * non-space character count, and non-space characters that were
    * inside `<a>` (the link-density numerator). */
  private[graft] final case class Block(
      text: String, words: Int, chars: Int, linkChars: Int)

  /** One captured outlink: the raw href, whether the anchor carried
    * `rel=nofollow` (the per-link crawl-policy signal), and the
    * anchor's visible text (whitespace-collapsed, entity-decoded —
    * the weak relevance label anchor-text aggregation mines). */
  private[graft] final case class Link(
      href: String, nofollow: Boolean, anchor: String = "")

  /** A parsed page: content blocks, the `<a>` outlinks in document
    * order ([[linkExtract]] normalizes and aggregates them), and any
    * `<meta name=robots>` content values ([[robotsGate]] enforces
    * them). */
  private[graft] final case class Page(
      blocks: Vector[Block], links: Vector[Link],
      robotsMeta: Vector[String])

  private val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "nav", "footer", "header", "title", "head", "body", "html",
    "table", "tr", "td", "th", "blockquote", "section", "article",
    "pre", "br")

  /** Single-pass HTML walk → candidate blocks. Semantics:
    *  - `<script>`/`<style>` elements are skipped WHOLE (content
    *    included — a script may contain decoy markup);
    *  - any block-level tag (open or close) is a block boundary;
    *  - inline tags contribute no text but no boundary either
    *    (`<b>wor<i>ld</i></b>` stays one word);
    *  - entities decode where recognized (`&amp; &lt; &gt; &quot;
    *    &apos; &#NN; &#xHH;`), pass through literally otherwise — a
    *    stray '&' is content, not an error;
    *  - a '<' not opening a tag name is content (total on junk);
    *  - whitespace runs collapse, blocks trim, empty blocks drop.
    * Total on EVERY input — truncated tags/entities/scripts parse to
    * whatever text precedes them (prefix-fuzz-spec'd).
    */
  private[graft] def parseHtml(html: String): Page = {
    val lower = html.toLowerCase(java.util.Locale.ROOT)
    val n = html.length
    val out = Vector.newBuilder[Block]
    val links = scala.collection.mutable.ArrayBuffer.empty[Link]
    val robots = Vector.newBuilder[String]
    // attribute scan inside a tag body [from, until): double-,
    // single-, or un-quoted values; the name must start a token
    // (preceded by whitespace — `class="related"` must not satisfy a
    // "rel" probe) and be followed by '='; total on truncation
    // (missing quote/value reads to the region end)
    def attrOf(from: Int, until: Int, name: String): Option[String] = {
      var h = lower.indexOf(name, from)
      while (h >= 0 && h < until) {
        val tokenStart = h == from || html.charAt(h - 1).isWhitespace
        var p = h + name.length
        while (p < until && html.charAt(p).isWhitespace) p += 1
        if (tokenStart && p < until && html.charAt(p) == '=') {
          p += 1
          while (p < until && html.charAt(p).isWhitespace) p += 1
          if (p >= until) return Some("")
          val q = html.charAt(p)
          if (q == '"' || q == '\'') {
            val e = html.indexOf(q, p + 1)
            return Some(html.substring(p + 1,
              if (e >= 0 && e < until) e else until))
          } else {
            var e = p
            while (e < until && !html.charAt(e).isWhitespace) e += 1
            return Some(html.substring(p, e))
          }
        }
        h = lower.indexOf(name, h + 1)
      }
      None
    }
    val cur = new java.lang.StringBuilder
    var curLink = 0
    var lastSpace = true // leading-trim + run-collapse state
    var aDepth = 0
    // anchor-text capture: accumulates (collapsed like `cur`) while
    // inside any <a> span; when the span closes — or the input ends
    // with it open (totality) — the text patches every link the span
    // opened. Block boundaries flush `cur` but NOT the anchor buffer:
    // an anchor wrapping a block boundary keeps one label.
    val anchorSb = new java.lang.StringBuilder
    var anchorLastSpace = true
    var spanStart = 0 // links index where the current <a> span began
    def emit(c: Char): Unit = {
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r') {
        if (!lastSpace) { cur.append(' '); lastSpace = true }
        if (aDepth > 0 && !anchorLastSpace) {
          anchorSb.append(' '); anchorLastSpace = true
        }
      } else {
        cur.append(c); lastSpace = false
        if (aDepth > 0) {
          curLink += 1; anchorSb.append(c); anchorLastSpace = false
        }
      }
    }
    def flush(): Unit = {
      var t = cur.toString
      if (t.nonEmpty && t.charAt(t.length - 1) == ' ')
        t = t.substring(0, t.length - 1)
      if (t.nonEmpty) {
        var words = 1; var i = 0
        while (i < t.length) { if (t.charAt(i) == ' ') words += 1; i += 1 }
        out += Block(t, words, t.length - (words - 1), curLink)
      }
      cur.setLength(0); curLink = 0; lastSpace = true
    }
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        var j = i + 1
        var closing = false
        if (j < n && html.charAt(j) == '/') { closing = true; j += 1 }
        val start = j
        while (j < n && (html.charAt(j).isLetter || html.charAt(j).isDigit))
          j += 1
        if (j == start) { emit(c); i += 1 } // '<' not a tag: content
        else {
          val name = lower.substring(start, j)
          var k = j
          while (k < n && html.charAt(k) != '>') k += 1 // tag body
          if (!closing && (name == "script" || name == "style")) {
            val close = lower.indexOf("</" + name, k)
            if (close < 0) i = n // unterminated: rest is script, drop
            else {
              var e = close + 2 + name.length
              while (e < n && html.charAt(e) != '>') e += 1
              i = if (e < n) e + 1 else n
            }
          } else {
            if (BlockTags.contains(name)) {
              flush()
              // a block boundary inside an anchor reads as a word
              // break in the label ("<p>x</p><p>y</p>" → "x y")
              if (aDepth > 0 && !anchorLastSpace) {
                anchorSb.append(' '); anchorLastSpace = true
              }
            }
            if (name == "a") {
              if (closing) {
                if (aDepth > 0) {
                  aDepth -= 1
                  if (aDepth == 0) { // span closed: label its links
                    var t = anchorSb.toString
                    if (t.endsWith(" ")) t = t.dropRight(1)
                    var li = spanStart
                    while (li < links.length) {
                      links(li) = links(li).copy(anchor = t); li += 1
                    }
                    anchorSb.setLength(0); anchorLastSpace = true
                  }
                }
              } else {
                if (aDepth == 0) spanStart = links.length
                aDepth += 1
                attrOf(j, k, "href").foreach { h =>
                  val nf = attrOf(j, k, "rel").exists(
                    _.toLowerCase(java.util.Locale.ROOT).contains("nofollow"))
                  links += Link(h, nf)
                }
              }
            } else if (name == "meta" && !closing) {
              // <meta name=robots content=...>: the page-level crawl
              // policy; other metas (charset, viewport) are ignored
              if (attrOf(j, k, "name").exists(
                  _.toLowerCase(java.util.Locale.ROOT) == "robots"))
                attrOf(j, k, "content").foreach(robots += _)
            }
            i = if (k < n) k + 1 else n
          }
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i + 1)
        var dec = -1
        if (semi > i && semi - i <= 10) {
          val ent = html.substring(i + 1, semi)
          dec = ent match {
            case "amp" => '&'.toInt
            case "lt" => '<'.toInt
            case "gt" => '>'.toInt
            case "quot" => '"'.toInt
            case "apos" => '\''.toInt
            case e if e.length > 2 && (e.charAt(0) == '#') &&
                (e.charAt(1) == 'x' || e.charAt(1) == 'X') &&
                e.drop(2).forall(ch => Character.digit(ch, 16) >= 0) =>
              try Integer.parseInt(e.drop(2), 16) catch { case _: Exception => -1 }
            case e if e.length > 1 && e.charAt(0) == '#' &&
                e.drop(1).forall(_.isDigit) =>
              try e.drop(1).toInt catch { case _: Exception => -1 }
            case _ => -1
          }
        }
        if (dec >= 0 && dec <= 0xffff) { emit(dec.toChar); i = semi + 1 }
        else { emit('&'); i += 1 }
      } else { emit(c); i += 1 }
    }
    flush()
    if (aDepth > 0) { // unterminated <a>: label with what accumulated
      var t = anchorSb.toString
      if (t.endsWith(" ")) t = t.dropRight(1)
      var li = spanStart
      while (li < links.length) {
        links(li) = links(li).copy(anchor = t); li += 1
      }
    }
    Page(out.result(), links.toVector, robots.result())
  }

  /** jusText-lite keep rules over [[parseHtml]]'s blocks. */
  private val MinWords = 3
  private val MaxLinkDensity = 0.4

  /** Entity-encode content for [[synthPage]]: single pass, so the
    * `&amp;`-contains-'a' ordering trap of chained replace() can't
    * fire. Every 'a' becomes a NUMERIC entity — the decoder is
    * exercised on every document, not just on hand fixtures. */
  private[graft] def enc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case 'a' => sb.append("&#97;")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Deterministic page for doc (id, text): full head (title, script
    * WITH decoy `<p>` markup inside, style), link-only nav, 2-word h1,
    * the text as two nested-tag entity-encoded paragraphs, link-only
    * related list, link-dense footer. Non-empty blocks: title, nav,
    * h1, p1, p2, li, li, footer = 8; keep rules retain exactly p1+p2. */
  private[graft] def synthPage(id: Long, text: String): String = {
    val ws = text.split(" ")
    val half = (ws.length + 1) / 2
    val p1 = enc(ws.take(half).mkString(" "))
    val p2 = enc(ws.drop(half).mkString(" "))
    s"""<html><head><title>Doc $id</title>""" +
      """<meta charset="utf-8"><meta name="viewport" content="width=device-width">""" +
      (if (id % 11 == 0) """<meta name="robots" content="noindex, follow">"""
       else "") +
      s"""<script type="text/javascript">var n = $id; if (n < 10) { document.write("<p>ghost words that must never leak into the extraction</p>"); }</script>""" +
      """<style>p { color: #333; } .related a { font-weight: bold; }</style></head>""" +
      """<body><nav><a href="/">Home</a> <a href="/docs">Docs</a> <a href="/about">About</a></nav>""" +
      s"""<h1>Doc $id</h1>""" +
      s"""<p><b>$p1</b></p>""" +
      s"""<div class="content"><p>$p2</p></div>""" +
      s"""<ul class="related"><li><a${if (id % 3 == 0) " rel=\"nofollow\"" else ""} href="/r/1">read more about this</a></li><li><a href="/r/${id % 7}">also see that page</a></li></ul>""" +
      """<footer><a href="/privacy">Privacy</a> · <a href="/terms">Terms</a> · <a href='legal/cookies#s1'>Cookie Policy</a> · <a href=https://cdn.example.org/brand.png?v=2#top>Brand</a></footer></body></html>"""
  }

  /** The crawl front door as a query: synthesize each document's page,
    * extract, tally the block triage, and run the FACTORED
    * [[TextOps.qualityKeep]] gate over the extracted text — markup →
    * clean text → quality verdict in one composed map-side pass. The
    * oracle reconstructs every column from the original `documents`
    * row (extracted text == the original text BY CONSTRUCTION of the
    * generator/parser pair; tallies are page-layout constants; the
    * keep flag is [[TextOps.qualityKeepSql]] verbatim), so the whole
    * loop is proven against ground truth, not against a second run of
    * the same parser.
    */
  /** Extract one page: triage tallies + surviving text. The ONE
    * extraction definition the batch query and the streaming twin
    * both run (the pairGated factoring discipline). */
  private[graft] def extractDoc(id: Long, html: String)
      : (Long, Int, Int, Int, Int, String) = {
    val blocks = parseHtml(html).blocks
    var nShort = 0; var nLink = 0
    val kept = blocks.filter { b =>
      if (b.words < MinWords) { nShort += 1; false }
      else if (b.linkChars.toDouble / b.chars > MaxLinkDensity) {
        nLink += 1; false
      } else true
    }
    (id, blocks.size, kept.size, nLink, nShort,
      kept.map(_.text).mkString(" "))
  }

  /** (doc_id, html) frame → extraction + the factored
    * [[TextOps.qualityKeep]] verdict over the EXTRACTED text — works
    * identically on a batch frame and a streaming micro-batch
    * (stateless map-side, so the twin needs no state at all). */
  private[graft] def extractFrame(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    pages
      .select(col("doc_id"), col("html"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, html) => extractDoc(id, html) })
      .toDF("doc_id", "n_blocks", "n_kept", "n_link_dropped",
        "n_short_dropped", "text")
      .withColumn("keep", TextOps.qualityKeep)
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        col("n_link_dropped"), col("n_short_dropped"),
        col("text").as("extracted"), col("keep"))
  }

  def htmlExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pages = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, synthPage(id, text)) })
      .toDF("doc_id", "html")
    extractFrame(pages).orderBy(col("doc_id"))
  }

  private val htmlExtractOracle =
    s"""SELECT doc_id,
       |       CAST(8 AS INTEGER) AS n_blocks,
       |       CAST(2 AS INTEGER) AS n_kept,
       |       CAST(4 AS INTEGER) AS n_link_dropped,
       |       CAST(2 AS INTEGER) AS n_short_dropped,
       |       text AS extracted,
       |       ${TextOps.qualityKeepSql} AS keep
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- WARC scan
  /** WARC container scan — the layer BELOW [[htmlExtract]], completing
    * the crawl front door from the bytes up: real pipelines don't
    * receive per-page HTML, they receive WARC files (ISO 28500 — the
    * Common Crawl distribution format) holding thousands of
    * concatenated request/response/metadata records. This operator
    * drives the [[graft.sources.WarcFiles]] codec end-to-end: docs
    * batch into one synthetic WARC per [[WarcDocsPerFile]]-doc group
    * (warcinfo + request/response pairs + revisit markers), the TOTAL
    * record walk parses them back, `response` records split off their
    * HTTP headers, and the recovered HTML runs the SAME [[extractDoc]]
    * + [[TextOps.qualityKeep]] chain as `q_html_extract` — container →
    * record → HTTP → markup → clean text → quality verdict, one
    * composed query. The oracle reconstructs every column from
    * `documents` alone (record counts are closed-form in the id
    * formulas; extracted text == original text BY CONSTRUCTION of the
    * generator/parser pairs), so the whole stack is proven against
    * ground truth, and the `clean` flag witnesses that the walk
    * consumed every byte of every file.
    *
    * Scale shape: one hash exchange groups docs into their file
    * (collect_list over [[WarcDocsPerFile]]-sized bounded groups —
    * in production this stage is the parquet-ified raw-bytes scan
    * itself, one WARC per row), then assembly/parse/extract run
    * map-side per file; the rollup re-aggregates the per-response
    * rows by file_id (partial-aggregated, rows are a handful of
    * longs). No driver involvement, bounded memory per file.
    */
  private val WarcDocsPerFile = 25L

  /** (file_id, warc binary) → one row per `response` record, carrying
    * the file-level triage (record counts by type, clean-walk flag)
    * beside the response's doc_id and raw HTTP body bytes. The ONE
    * record-split definition the batch query and the streaming
    * container chain both run (the extractFrame factoring
    * discipline); stateless map-side, so the twin needs no state. */
  private[graft] def warcSplitFrame(files: DataFrame): DataFrame = {
    import files.sparkSession.implicits._
    import graft.sources.WarcFiles
    files.select(col("file_id"), col("warc"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (fid, bytes) =>
        val scan = WarcFiles.parseWarc(bytes)
        val byType = scan.records.groupBy(_.recType)
        def n(t: String): Long =
          byType.get(t).map(_.size.toLong).getOrElse(0L)
        val clean = scan.clean && scan.trailing == 0
        scan.records.filter(_.recType == "response").map { r =>
          val id = r.targetUri
            .substring(r.targetUri.lastIndexOf('/') + 1).toLong
          val body = WarcFiles.httpBody(r.body).getOrElse(Array.emptyByteArray)
          (fid, scan.records.size.toLong, n("warcinfo"), n("request"),
            n("response"), n("revisit"), clean, id, body)
        }
      })
      .toDF("file_id", "n_records", "n_warcinfo", "n_requests",
        "n_responses", "n_revisits", "clean", "doc_id", "raw")
  }

  /** Synthesize one WARC per [[WarcDocsPerFile]]-doc group from the
    * documents table — the fixture frame [[warcScan]] and the
    * streaming twin both start from. */
  private[graft] def synthWarcFrame(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    import graft.sources.WarcFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        (fid, WarcFiles.synthWarc(fid, docs.map { case (id, t) =>
          (id,
            synthPage(id, t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }))
      })
      .toDF("file_id", "warc")
  }

  def warcScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perResponse = warcSplitFrame(synthWarcFrame(spark, sfDir))
      .withColumn("html", col("raw").cast("string"))
      .as[(Long, Long, Long, Long, Long, Long, Boolean, Long, Array[Byte],
        String)]
      .mapPartitions(_.map { case (fid, nr, ni, nq, ns, nv, cl, id, _, html) =>
        (fid, nr, ni, nq, ns, nv, cl, id, extractDoc(id, html)._6)
      })
      .toDF("file_id", "n_records", "n_warcinfo", "n_requests",
        "n_responses", "n_revisits", "clean", "doc_id", "text")
    perResponse
      .withColumn("keep", TextOps.qualityKeep)
      .groupBy(col("file_id"), col("n_records"), col("n_warcinfo"),
        col("n_requests"), col("n_responses"), col("n_revisits"),
        col("clean"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(length(col("text")).cast("long")).as("extracted_chars"))
      .orderBy(col("file_id"))
  }

  private val warcScanOracle =
    s"""SELECT doc_id // $WarcDocsPerFile AS file_id,
       |       CAST(1 + 2 * COUNT(*)
       |            + SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_records,
       |       CAST(1 AS BIGINT) AS n_warcinfo,
       |       COUNT(*) AS n_requests,
       |       COUNT(*) AS n_responses,
       |       CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_revisits,
       |       TRUE AS clean,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN ${TextOps.qualityKeepSql} THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_kept,
       |       CAST(SUM(length(text)) AS BIGINT) AS extracted_chars
       |FROM documents
       |GROUP BY 1 ORDER BY file_id""".stripMargin

  // ------------------------------------------------- msgpack scan
  /** MessagePack stream walk over synthesized dump files — the
    * seventh interchange container ([[graft.sources.MsgPackFiles]]):
    * after WARC/tar/ZIP/TFRecord/Avro/Arrow, msgpack is what Redis
    * dumps, Fluentd event streams, and Kafka log exports actually
    * hand a pipeline. Each 25-doc group becomes one headerless object
    * stream of per-doc maps; every 19th doc carries an ext8 field the
    * reader must SKIP BY DECLARED WIDTH (the forward-compat rule that
    * lets old readers cross new fields), and tag arrays of varying
    * arity exercise the element walk. The decoded id/text/tag sums
    * land under the hash, so the fixint/uint/fixstr/str8/str16 grammar
    * is proven end to end; mp_bytes pins every length byte including
    * the minimal-width integer rule.
    *
    * Scale shape: the container-battery shape — map-side synth+walk
    * over bounded groups, one exchange, file-sized rollup. */
  def msgpackScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.MsgPackFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        val mp = MsgPackFiles.synthMsgPack(docs.map { case (id, t) =>
          (id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        })
        val scan = MsgPackFiles.parseMsgPack(mp)
        (fid, scan.docs.size.toLong, scan.docs.map(_.id).sum,
          scan.docs.map(_.textBytes.toLong).sum,
          scan.docs.map(_.nTags.toLong).sum,
          scan.docs.count(_.hasExt).toLong, mp.length.toLong, scan.clean)
      })
      .toDF("file_id", "n_docs", "id_sum", "text_bytes", "tag_sum",
        "n_ext", "mp_bytes", "clean")
      .orderBy(col("file_id"))
  }

  /** Closed-form census: per doc 1 map-header byte; `id` key (3) +
    * minimal-width uint (1 under 128, 2 under 256, 3 under 65536 —
    * headroom past the sf0.1 maxima); `text` key (5) + str header
    * (1 under 32, 2 under 256, 3 under 65536) + the bytes; `tags`
    * key (5) + fixarray header (1) + one fixint byte per element
    * (id mod 4 elements, each < 128); every 19th doc adds `ext`
    * key (4) + ext8 framing (3) + 1 payload byte. */
  private val msgpackScanOracle =
    s"""SELECT doc_id // $WarcDocsPerFile AS file_id,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |       CAST(SUM(strlen(text)) AS BIGINT) AS text_bytes,
       |       CAST(SUM(doc_id % 4) AS BIGINT) AS tag_sum,
       |       CAST(SUM(CASE WHEN doc_id % 19 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_ext,
       |       CAST(SUM(1 + 3
       |              + CASE WHEN doc_id < 128 THEN 1
       |                     WHEN doc_id < 256 THEN 2
       |                     WHEN doc_id < 65536 THEN 3 ELSE 5 END
       |              + 5
       |              + CASE WHEN strlen(text) < 32 THEN 1
       |                     WHEN strlen(text) < 256 THEN 2 ELSE 3 END
       |              + strlen(text)
       |              + 5 + 1 + doc_id % 4
       |              + CASE WHEN doc_id % 19 = 0 THEN 8 ELSE 0 END)
       |            AS BIGINT) AS mp_bytes,
       |       TRUE AS clean
       |FROM documents
       |GROUP BY 1 ORDER BY file_id""".stripMargin

  // ------------------------------------------------- CDX index
  /** SURT transform (Sort-friendly URI Reordering Transform — the key
    * order of every web-archive CDX index): scheme dropped, authority
    * lowercased, default port stripped, host labels REVERSED and
    * comma-joined, then `)` + the rest — so one domain's pages sort
    * contiguously and a prefix range-scan answers "everything under
    * example.org". Path/query kept verbatim (host-only folding; the
    * aggressive variant is [[canonicalUrl]]'s job). */
  private[graft] def surtKey(u: String): String = {
    val se = u.indexOf("://")
    if (se < 0) return u
    val rest = u.substring(se + 3)
    val authEnd = rest.indexWhere(c => c == '/' || c == '?') match {
      case -1 => rest.length
      case i => i
    }
    var auth = rest.substring(0, authEnd).toLowerCase(java.util.Locale.ROOT)
    if (auth.endsWith(":80")) auth = auth.dropRight(3)
    if (auth.endsWith(":443")) auth = auth.dropRight(4)
    auth.split('.').reverse.mkString(",") + ")" + rest.substring(authEnd)
  }

  /** CDX index over the WARC battery — the lookup structure every web
    * archive pairs with its WARCs (the CDX(J) file: one row per
    * replayable record, keyed by [[surtKey]], carrying the REPLAY
    * COORDINATES — file, byte offset, record length — plus the payload
    * digest the archive's dedup consults): `response` and `revisit`
    * records of [[synthWarcFrame]]'s files, offset/length from the
    * parser's record walk, digest = md5 of the record block. The
    * oracle REBUILDS every byte coordinate from the documents table
    * alone — page string, HTTP wrapper, WARC headers, per-file
    * cumulative offsets — so the generator's layout and the parser's
    * walk sit under the driver hash jointly (the generator/parser
    * cross-check discipline, extended to byte POSITIONS, not just
    * counts).
    *
    * Scale shape: map-side record walk per file (the container-battery
    * shape), one TakeOrdered on the SURT key — which is exactly how
    * production CDX is built: per-WARC local scans, one global sort at
    * write time. */
  /** (file_id, warc binary) frame → un-sorted CDX rows. The ONE
    * indexing definition the batch query and the streaming twin both
    * run (the extractFrame factoring discipline) — stateless
    * map-side, so the twin needs no state store; the global SURT sort
    * is the batch query's write-time step, a streaming ledger sorts
    * at read time. */
  private[graft] def cdxFrame(files: DataFrame): DataFrame = {
    import files.sparkSession.implicits._
    import graft.sources.WarcFiles
    files
      .select(col("file_id"), col("warc"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (fid, bytes) =>
        WarcFiles.parseWarc(bytes).records
          .filter(r => r.recType == "response" || r.recType == "revisit")
          .map { r =>
            val md = java.security.MessageDigest.getInstance("MD5")
            val hex = md.digest(r.body).map(b => f"$b%02x").mkString
            (surtKey(r.targetUri), r.targetUri, r.recType, fid,
              r.offset, r.recLen, hex.take(12))
          }
      })
      .toDF("surt_key", "url", "rec_type", "file_id", "warc_offset",
        "rec_len", "digest12")
  }

  def cdxIndex(spark: SparkSession, sfDir: String): DataFrame =
    cdxFrame(synthWarcFrame(spark, sfDir))
      .orderBy(col("surt_key"), col("rec_type"))

  private val cdxIndexOracle =
    s"""WITH k AS (SELECT chr(13) || chr(10) AS crlf),
       |d AS (SELECT doc_id, text, doc_id // $WarcDocsPerFile AS file_id,
       |             CAST(doc_id AS VARCHAR) AS ids,
       |             str_split(text, ' ') AS ws
       |      FROM documents),
       |pg AS (SELECT *,
       |    replace(array_to_string(ws[1:(len(ws)+1)//2], ' '),
       |            'a', '&#97;') AS p1,
       |    replace(array_to_string(ws[(len(ws)+1)//2+1:], ' '),
       |            'a', '&#97;') AS p2
       |  FROM d),
       |html AS (SELECT doc_id, file_id, ids,
       |    '<html><head><title>Doc ' || ids || '</title>'
       |    || '<meta charset="utf-8"><meta name="viewport" content="width=device-width">'
       |    || CASE WHEN doc_id % 11 = 0
       |            THEN '<meta name="robots" content="noindex, follow">'
       |            ELSE '' END
       |    || '<script type="text/javascript">var n = ' || ids
       |    || '; if (n < 10) { document.write("<p>ghost words that must never leak into the extraction</p>"); }</script>'
       |    || '<style>p { color: #333; } .related a { font-weight: bold; }</style></head>'
       |    || '<body><nav><a href="/">Home</a> <a href="/docs">Docs</a> <a href="/about">About</a></nav>'
       |    || '<h1>Doc ' || ids || '</h1>'
       |    || '<p><b>' || p1 || '</b></p>'
       |    || '<div class="content"><p>' || p2 || '</p></div>'
       |    || '<ul class="related"><li><a'
       |    || CASE WHEN doc_id % 3 = 0 THEN ' rel="nofollow"' ELSE '' END
       |    || ' href="/r/1">read more about this</a></li><li><a href="/r/'
       |    || CAST(doc_id % 7 AS VARCHAR)
       |    || '">also see that page</a></li></ul>'
       |    || '<footer><a href="/privacy">Privacy</a> · <a href="/terms">Terms</a> · <a href=''legal/cookies#s1''>Cookie Policy</a> · <a href=https://cdn.example.org/brand.png?v=2#top>Brand</a></footer></body></html>'
       |      AS page
       |  FROM pg),
       |blocks AS (SELECT doc_id, file_id, ids,
       |    'HTTP/1.1 200 OK' || crlf
       |      || 'Content-Type: text/html; charset=utf-8' || crlf
       |      || 'Content-Length: ' || strlen(page) || crlf || crlf
       |      || page AS resp_block,
       |    'GET /doc/' || ids || ' HTTP/1.1' || crlf
       |      || 'Host: example.org' || crlf || crlf AS req_block
       |  FROM html, k),
       |recs AS (SELECT doc_id, file_id, ids, resp_block,
       |    strlen('WARC/1.0' || crlf || 'WARC-Type: request' || crlf
       |      || 'WARC-Record-ID: <urn:graft:req-' || ids || '>' || crlf
       |      || 'WARC-Target-URI: https://example.org/doc/' || ids || crlf
       |      || 'Content-Length: ' || strlen(req_block)
       |      || crlf || crlf || req_block || crlf || crlf) AS req_len,
       |    strlen('WARC/1.0' || crlf || 'WARC-Type: response' || crlf
       |      || 'WARC-Record-ID: <urn:graft:resp-' || ids || '>' || crlf
       |      || 'WARC-Target-URI: https://example.org/doc/' || ids || crlf
       |      || 'Content-Length: ' || strlen(resp_block)
       |      || crlf || crlf || resp_block || crlf || crlf) AS resp_len,
       |    strlen('WARC/1.0' || crlf || 'WARC-Type: revisit' || crlf
       |      || 'WARC-Record-ID: <urn:graft:rev-' || ids || '>' || crlf
       |      || 'WARC-Target-URI: https://example.org/doc/' || ids || crlf
       |      || 'Content-Length: 0' || crlf || crlf || crlf || crlf)
       |      AS rev_len,
       |    strlen('WARC/1.0' || crlf || 'WARC-Type: warcinfo' || crlf
       |      || 'WARC-Record-ID: <urn:graft:info-' || file_id || '>' || crlf
       |      || 'Content-Length: 27' || crlf || crlf
       |      || 'software: graft-synth/1.0' || crlf || crlf || crlf)
       |      AS info_len
       |  FROM blocks, k),
       |offs AS (SELECT *,
       |    info_len + COALESCE(SUM(req_len + resp_len
       |        + CASE WHEN doc_id % 13 = 0 THEN rev_len ELSE 0 END)
       |      OVER (PARTITION BY file_id ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS base
       |  FROM recs),
       |cdx AS (
       |  SELECT 'org,example)/doc/' || ids AS surt_key,
       |         'https://example.org/doc/' || ids AS url,
       |         'response' AS rec_type, file_id,
       |         base + req_len AS warc_offset,
       |         resp_len AS rec_len,
       |         substring(md5(resp_block), 1, 12) AS digest12
       |  FROM offs
       |  UNION ALL
       |  SELECT 'org,example)/doc/' || ids, 'https://example.org/doc/' || ids,
       |         'revisit', file_id,
       |         base + req_len + resp_len, rev_len,
       |         substring(md5(''), 1, 12)
       |  FROM offs WHERE doc_id % 13 = 0)
       |SELECT surt_key, url, rec_type, file_id,
       |       CAST(warc_offset AS BIGINT) AS warc_offset,
       |       CAST(rec_len AS BIGINT) AS rec_len, digest12
       |FROM cdx ORDER BY surt_key, rec_type""".stripMargin

  // ------------------------------------------------- crawl funnel
  /** WARC files whose response bodies are the per-class MANGLED wire
    * bytes ([[encBytes]] over the synthesized page): what a crawler
    * actually hands the pipeline — container framing around bytes of
    * unknown encoding. The [[synthWarcFrame]] layout with the
    * encoding-repair fixture's byte classes composed in. */
  private[graft] def synthWarcWireFrame(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    import graft.sources.WarcFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        (fid, WarcFiles.synthWarc(fid, docs.map { case (id, t) =>
          (id, encBytes(id, synthPage(id, t)))
        }))
      })
      .toDF("file_id", "warc")
  }

  /** The END-TO-END batch crawl funnel — wire bytes to training-ready
    * keep/drop in ONE oracle-checked query, composing every shipped
    * front-door stage: [[warcSplitFrame]] (container → HTTP bodies) →
    * [[repairFrame]] (charset triage over the per-class mangled
    * bytes) → [[extractDoc]] (markup → clean text; the repaired
    * `café ` prefix parses as its own sub-minimum block and drops,
    * so extracted == original text BY CONSTRUCTION) →
    * [[TextOps.qualityKeep]] (Gopher gate) → canonical-prefix dedup
    * keeper (the [[graft.ops.CurationOps.pipelineLedger]] rule:
    * min doc_id per md5 of the 40-char prefix, among quality-
    * surviving train candidates) → 8-gram eval decontamination (the
    * [[graft.ops.PipelineOps.decontaminate]] rule, on the graded
    * sibling's LARGER `doc_id % 10 = 7` eval split so the stage is
    * WITNESSED at fixture scale — the %97 split's 6 docs share no
    * 8-gram with any train doc, which would leave the overlap join
    * unexercised under the hash). Output is one row of per-stage
    * conditional
    * tallies — the [[graft.ops.MultimodalOps]] pairCuration shape:
    * the corpus is enriched ONCE, stage verdicts become flags, and
    * the ledger is a single-row rollup of conditional sums, so no
    * stage re-scans the corpus.
    *
    * This is the text-funnel twin of the image pair funnel's
    * composition proof: every stage here also ships (and is
    * oracle-checked) stand-alone — this query proves their contracts
    * COMPOSE.
    *
    * Scale shape: WARC synth is the fixture stand-in for a
    * `binaryFile` scan (walk unchanged); split/repair/extract are
    * stateless map-side byte/markup walks; the dedup keeper is one
    * fingerprint groupBy + a doc_id semi-join; decontamination
    * explodes train grams map-side against the BROADCAST
    * dimension-sized eval-gram set; file-level stats aggregate over
    * the (bounded) file-count frame; the final ledger is a 1-row
    * conditional rollup. The enriched per-doc frame is cached — one
    * container-parse+extract pass feeds all stage consumers. */
  /** The fused per-document front-door pass — container walk →
    * charset repair → extraction → quality verdict — factored so the
    * batch funnel and its streaming twin
    * ([[graft.streaming.StreamingOps.crawlFunnelStream]]) run ONE
    * definition. The per-row kernels ([[detectRepair]],
    * [[extractDoc]], [[TextOps.qualityKeep]]) are the same
    * definitions the stand-alone stages run. Input: (file_id, warc
    * wire bytes); output one row per response doc with the stage
    * flags as narrow columns. */
  private[graft] def crawlFunnelPerDoc(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    warcSplitFrame(files)
      .select(col("file_id"), col("clean"), col("doc_id"), col("raw"))
      .as[(Long, Boolean, Long, Array[Byte])]
      .mapPartitions(_.map { case (fid, cl, id, b) =>
        val (det, repaired) = detectRepair(b)
        (fid, cl, id, det, extractDoc(id, repaired)._6)
      })
      .toDF("file_id", "clean", "doc_id", "detected", "text")
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("keep_q", TextOps.qualityKeep)
      .withColumn("is_eval", col("doc_id") % 10 === 7)
  }

  /** The funnel's 8-gram shingler (shared by the eval-set build and
    * the per-doc overlap verdict). */
  private[graft] def crawlGrams(d: DataFrame): DataFrame = d
    .withColumn("w", split(col("text"), " "))
    .withColumn("gram", explode(
      when(size(col("w")) >= 8,
        expr("transform(sequence(0, size(w) - 8), " +
          "i -> array_join(slice(w, i + 1, 8), ' '))"))
        .otherwise(array().cast("array<string>"))))

  /** Per-arrival verdict rows — everything the funnel can decide
    * about a document IN ISOLATION given the standing eval-gram set:
    * encoding class, quality verdict, dedup fingerprint, and the
    * decontamination overlap flag. Text does NOT ride along: this is
    * the ledger a streaming ingest appends, and the cross-document
    * stage (the min-doc_id dedup keeper) is resolved at ROLLUP time
    * over the accumulated ledger ([[crawlFunnelRollup]]) — the
    * compaction job's half of the contract. */
  private[graft] def crawlFunnelDocLedger(perDoc: DataFrame,
      evalGrams: DataFrame): DataFrame = {
    val dirty = crawlGrams(perDoc.filter(col("keep_q") && !col("is_eval")))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("dirty", lit(1))
    perDoc
      .withColumn("fp", md5(substring(col("text"), 1, 40).cast("binary")))
      .join(dirty, Seq("doc_id"), "left")
      .select(col("file_id"), col("clean"), col("doc_id"), col("detected"),
        col("n_tok"), col("keep_q"), col("is_eval"), col("fp"),
        coalesce(col("dirty"), lit(0)).as("dirty"))
  }

  /** Accumulated verdict ledger → the 13-column single-row funnel
    * ledger: dedup keeper (min doc_id per fingerprint among quality-
    * surviving train candidates) + the conditional stage tallies.
    * Shared by the batch funnel and the streaming twin's read side —
    * StreamingSpec pins batch == stream over the same corpus.
    *
    * Idempotent under at-least-once replay: a foreachBatch retry
    * re-appends byte-identical verdict rows, and while the min-doc_id
    * keeper absorbs them, the count/sum tallies would not — so the
    * rollup dedups the ledger on doc_id FIRST (one row per document
    * is the ledger's own invariant). */
  private[graft] def crawlFunnelRollup(rawLedger: DataFrame): DataFrame = {
    val ledger = rawLedger.dropDuplicates("doc_id")
    val keepers = ledger.filter(col("keep_q") && !col("is_eval"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).withColumn("keep_d", lit(1))
    val fileStats = ledger
      .groupBy(col("file_id"))
      .agg(max(col("clean").cast("int")).as("clean"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("clean")).cast("long").as("n_clean_files"))
    ledger.join(keepers, Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_responses"),
        sum(when(col("detected") === "utf8", 1L).otherwise(0L))
          .as("n_enc_utf8"),
        sum(when(col("detected") === "cp1252", 1L).otherwise(0L))
          .as("n_enc_cp1252"),
        sum(when(col("detected") === "double_utf8", 1L).otherwise(0L))
          .as("n_enc_double"),
        sum(when(col("detected") === "truncated_utf8", 1L).otherwise(0L))
          .as("n_enc_truncated"),
        sum(when(col("is_eval"), 1L).otherwise(0L)).as("n_eval"),
        sum(when(col("keep_q") && !col("is_eval"), 1L).otherwise(0L))
          .as("n_quality_keep"),
        sum(when(col("keep_d") === 1, 1L).otherwise(0L)).as("n_dedup_keep"),
        sum(when(col("keep_d") === 1 && col("dirty") === 1, 1L)
          .otherwise(0L)).as("n_decontam_drop"),
        sum(when(col("keep_d") === 1 && col("dirty") === 0, 1L)
          .otherwise(0L)).as("n_train_ready"),
        sum(when(col("keep_d") === 1 && col("dirty") === 0, col("n_tok"))
          .otherwise(0L)).cast("long").as("train_tokens"))
      .crossJoin(broadcast(fileStats))
      .select(col("n_files"), col("n_clean_files"), col("n_responses"),
        col("n_enc_utf8"), col("n_enc_cp1252"), col("n_enc_double"),
        col("n_enc_truncated"), col("n_eval"), col("n_quality_keep"),
        col("n_dedup_keep"), col("n_decontam_drop"), col("n_train_ready"),
        col("train_tokens"))
  }

  def crawlFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE fused map-side pass ([[crawlFunnelPerDoc]]) with the
    // file-level flags riding along as narrow columns so the file
    // stats read off the SAME cached frame instead of re-running the
    // WARC parse (the q_pair_curation re-scan lesson — an eager
    // checkpoint of the raw bodies was measured SLOWER than the fused
    // pass). Batch = ledger + rollup over the whole corpus at once;
    // the streaming twin appends the SAME ledger rows per arrival and
    // rolls up at read time.
    val perDoc = crawlFunnelPerDoc(synthWarcWireFrame(spark, sfDir))
      .cache() // one parse+extract pass feeds every stage consumer
    val evalGrams = crawlGrams(perDoc.filter(col("is_eval")))
      .select(col("gram")).distinct()
    crawlFunnelRollup(crawlFunnelDocLedger(perDoc, evalGrams))
  }

  /** Ground truth from `documents` alone: record recovery and
    * extraction are identities BY CONSTRUCTION of the generator/parser
    * pairs (proven stand-alone by q_warc_scan / q_encoding_repair /
    * q_html_extract), so the funnel oracle restates only the STAGE
    * RULES — encoding class formulas, the quality predicate, the
    * prefix-dedup keeper, and the 8-gram overlap. */
  private lazy val crawlFunnelOracle =
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         doc_id % 10 = 7 AS is_eval,
       |         ${TextOps.qualityKeepSql} AS keep_q,
       |         CASE doc_id % 4 WHEN 0 THEN 'utf8' WHEN 1 THEN 'cp1252'
       |              WHEN 2 THEN 'double_utf8' ELSE 'truncated_utf8'
       |         END AS detected
       |  FROM documents),
       |tc AS (SELECT * FROM base WHERE keep_q AND NOT is_eval),
       |k AS (SELECT MIN(doc_id) AS doc_id FROM tc
       |      GROUP BY md5(substr(text, 1, 40))),
       |d AS (SELECT tc.* FROM tc JOIN k USING (doc_id)),
       |eg AS (SELECT DISTINCT unnest(list_transform(
       |         range(0, greatest(len(string_split(text, ' ')) - 7, 0)),
       |         i -> array_to_string(string_split(text, ' ')[i+1:i+8], ' ')))
       |         AS gram
       |       FROM base WHERE is_eval),
       |dirty AS (SELECT DISTINCT doc_id FROM (
       |         SELECT doc_id, unnest(list_transform(
       |           range(0, greatest(len(string_split(text, ' ')) - 7, 0)),
       |           i -> array_to_string(string_split(text, ' ')[i+1:i+8], ' ')))
       |           AS gram
       |         FROM d)
       |       WHERE gram IN (SELECT gram FROM eg))
       |SELECT
       |  (SELECT COUNT(DISTINCT doc_id // $WarcDocsPerFile) FROM base)
       |    AS n_files,
       |  (SELECT COUNT(DISTINCT doc_id // $WarcDocsPerFile) FROM base)
       |    AS n_clean_files,
       |  (SELECT COUNT(*) FROM base) AS n_responses,
       |  (SELECT COUNT(*) FROM base WHERE detected = 'utf8') AS n_enc_utf8,
       |  (SELECT COUNT(*) FROM base WHERE detected = 'cp1252')
       |    AS n_enc_cp1252,
       |  (SELECT COUNT(*) FROM base WHERE detected = 'double_utf8')
       |    AS n_enc_double,
       |  (SELECT COUNT(*) FROM base WHERE detected = 'truncated_utf8')
       |    AS n_enc_truncated,
       |  (SELECT COUNT(*) FROM base WHERE is_eval) AS n_eval,
       |  (SELECT COUNT(*) FROM tc) AS n_quality_keep,
       |  (SELECT COUNT(*) FROM d) AS n_dedup_keep,
       |  (SELECT COUNT(*) FROM dirty) AS n_decontam_drop,
       |  (SELECT COUNT(*) FROM d WHERE doc_id NOT IN
       |     (SELECT doc_id FROM dirty)) AS n_train_ready,
       |  (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM d
       |   WHERE doc_id NOT IN (SELECT doc_id FROM dirty)) AS train_tokens
       |""".stripMargin

  // ------------------------------------------------------- tar scan
  /** POSIX-ustar member walk over synthesized corpus shards — the
    * other container front door beside [[warcScan]]: WARC is how the
    * web ARRIVES, tar is how corpora are SHIPPED (The Pile's shards,
    * WebDataset archives, dataset-hub exports). Same shape: pack each
    * [[WarcDocsPerFile]]-doc group into one tar via the
    * [[graft.sources.TarFiles]] codec (every 17th member's header
    * checksum deliberately broken — synthetic bit-rot), walk it back
    * with the total parser, and prove the member census, payload
    * byte total, 512-block padding arithmetic, and triage counts
    * against the documents table in closed form.
    *
    * Scale shape: synth and parse are both map-side over bounded
    * 25-doc groups (one fact exchange to group); the rollup output is
    * file-count-sized. On a real dump the synth stage is replaced by
    * `spark.read.format("binaryFile")` and the walk is unchanged —
    * archives stream through executors, nothing driver-side.
    */
  def tarScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.TarFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        val tar = TarFiles.synthTar(docs.map { case (id, t) =>
          (id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        })
        val scan = TarFiles.parseTar(tar)
        val files = scan.members.filter(_.typeflag == '0')
        (fid, scan.members.size.toLong, files.size.toLong,
          scan.members.count(_.typeflag == '5').toLong,
          scan.members.count(!_.checksumOk).toLong,
          files.map(_.size).sum, tar.length.toLong, scan.clean)
      })
      .toDF("file_id", "n_members", "n_files", "n_dirs", "n_badsum",
        "payload_bytes", "tar_bytes", "clean")
      .orderBy(col("file_id"))
  }

  /** Closed-form census: member/dir/file counts, the 17-stride broken
    * checksums, payload bytes (strlen = UTF-8 octets, matching the
    * synth's getBytes), and the full block arithmetic — per member
    * 512 header + ⌈size/512⌉ payload blocks, plus the dir header and
    * the 1024-byte end marker. A one-byte padding slip anywhere in
    * the codec breaks the tar_bytes column. */
  private val tarScanOracle =
    s"""SELECT doc_id // $WarcDocsPerFile AS file_id,
       |       CAST(COUNT(*) + 1 AS BIGINT) AS n_members,
       |       COUNT(*) AS n_files,
       |       CAST(1 AS BIGINT) AS n_dirs,
       |       CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_badsum,
       |       CAST(SUM(strlen(text)) AS BIGINT) AS payload_bytes,
       |       CAST(1536 + SUM(512 + 512 * ((strlen(text) + 511) // 512))
       |            AS BIGINT) AS tar_bytes,
       |       TRUE AS clean
       |FROM documents
       |GROUP BY 1 ORDER BY file_id""".stripMargin

  // ------------------------------------------------------- zip scan
  /** ZIP central-directory walk over synthesized corpus bundles — the
    * third container front door: WARC is how the web ARRIVES
    * ([[warcScan]]), tar is how corpora are SHIPPED ([[tarScan]]),
    * ZIP is how datasets are UPLOADED (Kaggle bundles, data-portal
    * exports). Same shape: pack each [[WarcDocsPerFile]]-doc group
    * into one STORED-method zip via the [[graft.sources.ZipFiles]]
    * codec (every 17th member's directory CRC deliberately off by one
    * bit — synthetic corruption), walk it back with the total
    * EOCD→central-directory parser, and prove the member census,
    * CRC triage counts, payload byte total, and the full
    * local+directory+EOCD byte arithmetic against the documents
    * table in closed form. The parser's hand-rolled CRC-32 table is
    * cross-checked against the generator's `java.util.zip.CRC32` on
    * every clean member — two independent implementations under one
    * hash gate.
    *
    * Scale shape: identical to [[tarScan]] — synth and parse are
    * map-side over bounded 25-doc groups (one fact exchange to
    * group); on a real dump the synth stage is replaced by
    * `spark.read.format("binaryFile")` and the walk is unchanged.
    */
  def zipScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.ZipFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        val zip = ZipFiles.synthZip(docs.map { case (id, t) =>
          (id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        })
        val scan = ZipFiles.parseZip(zip)
        (fid, scan.entries.size.toLong, scan.declared,
          scan.entries.count(!_.crcOk).toLong,
          scan.entries.map(_.size).sum, zip.length.toLong, scan.clean)
      })
      .toDF("file_id", "n_entries", "n_declared", "n_badcrc",
        "payload_bytes", "zip_bytes", "clean")
      .orderBy(col("file_id"))
  }

  /** Closed-form census: entry counts, the 17-stride broken CRCs,
    * payload bytes, and the exact archive size — per member a
    * 30-byte local header + name + payload, a 46-byte directory
    * record + name, plus the 22-byte EOCD; the member name is
    * `docs/doc_<id>.txt`, so namelen = 13 + digits(doc_id). A
    * one-byte arithmetic slip anywhere in the codec breaks the
    * zip_bytes column. */
  private val zipScanOracle =
    s"""SELECT doc_id // $WarcDocsPerFile AS file_id,
       |       COUNT(*) AS n_entries,
       |       COUNT(*) AS n_declared,
       |       CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_badcrc,
       |       CAST(SUM(strlen(text)) AS BIGINT) AS payload_bytes,
       |       CAST(22 + SUM(76 + 2 * (13 + strlen(CAST(doc_id AS VARCHAR)))
       |                     + strlen(text)) AS BIGINT) AS zip_bytes,
       |       TRUE AS clean
       |FROM documents
       |GROUP BY 1 ORDER BY file_id""".stripMargin

  // ------------------------------------------------------ XML scan
  /** Structured-markup feed walk over synthesized XML — the markup
    * container beside the binary ones ([[zipScan]], [[tfrecordScan]]):
    * RSS/Atom feeds, dump files, TEI corpora. The
    * [[graft.sources.XmlFiles]] codec pair proves the whole parser
    * surface in closed form: element/attribute censuses (nesting +
    * self-closing + quoted attrs), the every-5th CDATA body (decode
    * suppression), the entity decoder digit-by-digit (each doc id is
    * encoded ENTIRELY as decimal character references in its title —
    * the decoded-id sum only lands if every `&#NN;` resolves), and
    * the attribute-vs-content cross-check (id attribute == decoded
    * title id on every item).
    *
    * Scale shape: identical to the other container scans — map-side
    * synth+walk over bounded 25-doc groups, one fact exchange, a
    * file-count-sized rollup; on a real corpus the synth stage is
    * `binaryFile` reads and the walk is unchanged. */
  def xmlScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.XmlFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        // Alphabet contract the closed-form oracle depends on: the
        // fixture text must carry no raw markup chars (an escaped
        // '&'/'<'/'>' would decode as EXTRA entities the oracle's
        // n_ent/text_bytes terms don't model) and no ']]>' inside the
        // id%5==0 CDATA bodies. Holds for the current generator
        // (verified 0 hits at sf0.1); a fixture regeneration that
        // breaks it must fail LOUDLY here, not silently diverge.
        docs.foreach { case (id, text) =>
          require(!text.exists(c => c == '&' || c == '<' || c == '>'),
            s"xmlScan alphabet contract: doc $id text contains &/</>")
          require(id % 5 != 0 || !text.contains("]]>"),
            s"xmlScan alphabet contract: CDATA doc $id contains ]]>")
        }
        val xml = XmlFiles.synthXml(s"file_$fid", docs)
        val scan = XmlFiles.parseXml(xml)
        (fid, scan.items.size.toLong, scan.nElem, scan.maxDepth,
          scan.nAttr, scan.nCdata, scan.nSelfClose, scan.nEnt,
          scan.items.map(_.titleId).sum,
          scan.items.count(it => it.idAttr == it.titleId).toLong,
          scan.textBytes, scan.clean)
      })
      .toDF("file_id", "n_items", "n_elem", "max_depth", "n_attr",
        "n_cdata", "n_selfclose", "n_ent", "id_sum", "n_id_match",
        "text_bytes", "clean")
      .orderBy(col("file_id"))
  }

  /** Closed-form census — per item 3 elements (+1 meta on every 4th,
    * +2 em/strong on every 3rd) under the 1 feed root; 2 attrs per
    * item (+1 on meta, +1 on feed); entities = id digits + the flag
    * amp; decoded text = "doc <id>" + body + the 1-byte "x" on every
    * 3rd. */
  private val xmlScanOracle =
    s"""SELECT doc_id // $WarcDocsPerFile AS file_id,
       |  COUNT(*) AS n_items,
       |  CAST(1 + SUM(3 + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
       |               + CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END)
       |       AS BIGINT) AS n_elem,
       |  CAST(CASE WHEN SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
       |            > 0 THEN 5 ELSE 3 END AS BIGINT) AS max_depth,
       |  CAST(1 + SUM(2 + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_attr,
       |  CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_cdata,
       |  CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_selfclose,
       |  CAST(SUM(strlen(CAST(doc_id AS VARCHAR)) + 1) AS BIGINT)
       |    AS n_ent,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  COUNT(*) AS n_id_match,
       |  CAST(SUM(4 + strlen(CAST(doc_id AS VARCHAR)) + strlen(text)
       |           + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS text_bytes,
       |  TRUE AS clean
       |FROM documents
       |GROUP BY 1 ORDER BY file_id""".stripMargin

  // -------------------------------------------------- tfrecord scan
  /** TFRecord framing walk over synthesized training shards — the
    * container training jobs actually FEED FROM (TF input pipelines,
    * WebDataset's TF mode): length + masked-CRC32C framing around
    * protobuf wire messages, via the [[graft.sources.TfRecordFiles]]
    * codec pair. Every 17th record's stored data CRC is off by one
    * bit (triage-and-continue), every 7th doc's proto carries an
    * UNKNOWN fixed64 field the reader must skip by wire type, and
    * the decoded doc_id sum lands under the hash gate — so the
    * framing arithmetic, the hand-rolled Castagnoli table (vs the
    * generator's `java.util.zip.CRC32C`), the masking rotate, AND
    * the proto wire-type dispatch are all proven in closed form.
    *
    * Scale shape: identical to the other container scans — map-side
    * synth+walk over bounded 25-doc groups, one fact exchange, a
    * file-count-sized rollup; on a real corpus the synth stage is
    * `binaryFile` reads and the walk is unchanged.
    */
  def tfrecordScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.TfRecordFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        val shard = TfRecordFiles.synthTfRecords(docs.map { case (id, t) =>
          (id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        })
        val scan = TfRecordFiles.parseTfRecords(shard)
        (fid, scan.records.size.toLong,
          scan.records.count(!_.crcOk).toLong,
          scan.records.count(_.protoOk).toLong,
          scan.records.filter(_.protoOk).map(_.docId).sum,
          scan.records.map(_.textLen).sum, shard.length.toLong, scan.clean)
      })
      .toDF("file_id", "n_records", "n_badcrc", "n_proto_ok", "id_sum",
        "text_bytes", "tfr_bytes", "clean")
      .orderBy(col("file_id"))
  }

  /** Closed-form census: record/triage counts, the decoded-id sum
    * (proves the varint decode), text bytes (proves the
    * length-delimited decode), and the exact shard size — per record
    * 16 framing bytes + the proto length, where the proto is
    * 1 tag + varint(doc_id) + 1 tag + varint(strlen) + strlen bytes
    * (+ 9 for the unknown fixed64 field on every 7th doc), and a
    * varint takes 1 byte under 128, 2 under 16384, 3 under 2^21 —
    * headroom one level past the sf0.1 maxima (doc_id < 5000,
    * strlen < 600) so the formula survives scale-up. */
  private val tfrecordScanOracle =
    s"""SELECT doc_id // $WarcDocsPerFile AS file_id,
       |       COUNT(*) AS n_records,
       |       CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_badcrc,
       |       COUNT(*) AS n_proto_ok,
       |       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |       CAST(SUM(strlen(text)) AS BIGINT) AS text_bytes,
       |       CAST(SUM(16 + 2
       |              + CASE WHEN doc_id < 128 THEN 1
       |                     WHEN doc_id < 16384 THEN 2 ELSE 3 END
       |              + CASE WHEN strlen(text) < 128 THEN 1
       |                     WHEN strlen(text) < 16384 THEN 2 ELSE 3 END
       |              + strlen(text)
       |              + CASE WHEN doc_id % 7 = 0 THEN 9 ELSE 0 END)
       |            AS BIGINT) AS tfr_bytes,
       |       TRUE AS clean
       |FROM documents
       |GROUP BY 1 ORDER BY file_id""".stripMargin

  // ------------------------------------------------------ avro scan
  /** Avro OCF block walk over synthesized interchange files — the
    * fifth container ([[graft.sources.AvroFiles]]): WARC arrives,
    * tar ships, ZIP uploads, TFRecord feeds — Avro INTERCHANGES
    * (Kafka dumps, warehouse exports). Each 25-doc group becomes one
    * OCF of 10-record blocks; every block whose first doc_id is a
    * multiple of 17 declares one record MORE than it holds (the
    * planted writer bug), and the parser must decode the size-bounded
    * slice to exhaustion, flag the mismatch, keep the data, and walk
    * on via the sync marker. The decoded id/text sums land under the
    * hash, so the zigzag-varint grammar is proven end to end; the
    * avro_bytes column pins every length byte in the file, including
    * the header metadata map.
    *
    * Scale shape: identical to the other container scans — map-side
    * synth+walk over bounded groups, one exchange, file-sized rollup.
    */
  def avroScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.AvroFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        val ocf = AvroFiles.synthAvro(fid, docs.map { case (id, t) =>
          (id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        })
        val scan = AvroFiles.parseAvro(fid, ocf)
        (fid, scan.blocks.size.toLong, scan.blocks.map(_.decoded).sum,
          scan.blocks.count(!_.countOk).toLong,
          scan.blocks.map(_.idSum).sum, scan.blocks.map(_.textBytes).sum,
          ocf.length.toLong, scan.codec, scan.clean)
      })
      .toDF("file_id", "n_blocks", "n_records", "n_badcount", "id_sum",
        "text_bytes", "avro_bytes", "codec", "clean")
      .orderBy(col("file_id"))
  }

  /** Closed-form census. Block membership is arithmetic on doc_id
    * (25-doc files, 10-doc blocks ⇒ block_first = id − id%25 +
    * 10·(id%25 div 10)); a zigzag varint of non-negative v takes
    * 1 byte under 64, 2 under 8192, 3 under 2^20 — one level of
    * headroom past the sf0.1 maxima. The header constant (magic +
    * metadata map + sync) is computed from the SAME schema string
    * the generator writes, so a one-byte schema edit breaks the
    * avro_bytes column. */
  private val avroScanOracle = {
    import graft.sources.AvroFiles
    val s = AvroFiles.SchemaJson.length
    val header = 4 + 1 +
      (AvroFiles.zlen(10) + 10) + (AvroFiles.zlen(4) + 4) +
      (AvroFiles.zlen(11) + 11) + (AvroFiles.zlen(s.toLong) + s) +
      1 + 16
    s"""WITH d AS (
       |  SELECT doc_id // $WarcDocsPerFile AS file_id,
       |         doc_id - (doc_id % 25) + 10 * ((doc_id % 25) // 10)
       |           AS block_first,
       |         CASE WHEN doc_id < 64 THEN 1
       |              WHEN doc_id < 8192 THEN 2 ELSE 3 END
       |         + CASE WHEN strlen(text) < 64 THEN 1
       |                WHEN strlen(text) < 8192 THEN 2 ELSE 3 END
       |         + strlen(text) AS rec_bytes,
       |         doc_id, strlen(text) AS tb
       |  FROM documents),
       |b AS (
       |  SELECT file_id, block_first, COUNT(*) AS n_rec,
       |         SUM(rec_bytes) AS s, SUM(doc_id) AS ids, SUM(tb) AS tb
       |  FROM d GROUP BY 1, 2)
       |SELECT file_id,
       |       COUNT(*) AS n_blocks,
       |       CAST(SUM(n_rec) AS BIGINT) AS n_records,
       |       CAST(SUM(CASE WHEN block_first % 17 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_badcount,
       |       CAST(SUM(ids) AS BIGINT) AS id_sum,
       |       CAST(SUM(tb) AS BIGINT) AS text_bytes,
       |       CAST($header + SUM(1 + CASE WHEN s < 64 THEN 1
       |                                   WHEN s < 8192 THEN 2 ELSE 3 END
       |                          + s + 16) AS BIGINT) AS avro_bytes,
       |       'null' AS codec,
       |       TRUE AS clean
       |FROM b GROUP BY 1 ORDER BY file_id""".stripMargin
  }

  // ----------------------------------------------- arrow ipc scan
  /** Arrow IPC streaming-format walk over synthesized `.arrows`
    * shards — the sixth container ([[graft.sources.ArrowIpc]]): WARC
    * arrives, tar ships, ZIP uploads, TFRecord feeds, Avro
    * interchanges — Arrow IPC is what ANALYTICS tooling hands over
    * (Flight dumps, Polars/pandas exports). Each 25-doc group becomes
    * one stream of a flatbuffers Schema message plus 10-row record
    * batches; text is NULL on every 13th doc (real validity bitmaps),
    * and every batch whose first doc_id is a multiple of 17 DECLARES
    * one more text null in its FieldNode than the bitmap holds — the
    * reader recounts the bitmap and flags the metadata/body
    * disagreement, triage-and-continue. The decoded id/text-byte sums
    * land under the hash, so the hand-rolled flatbuffers vtable walk
    * (generator builds with an independent backward-growing builder),
    * the validity-bitmap popcount, AND the utf8 offsets decode are
    * all proven in closed form; arrow_bytes pins every frame,
    * alignment pad, and buffer layout byte in the stream.
    *
    * Scale shape: identical to the other container scans — map-side
    * synth+walk over bounded 25-doc groups, one fact exchange, a
    * file-count-sized rollup; on a real corpus the synth stage is
    * `binaryFile` reads and the walk is unchanged.
    */
  def arrowScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.ArrowIpc
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        val stream = ArrowIpc.synthArrowStream(docs)
        val scan = ArrowIpc.parseArrowStream(stream)
        (fid, scan.batches.size.toLong,
          scan.batches.map(_.nRows).sum,
          scan.batches.map(_.nNullText).sum,
          scan.batches.map(_.idSum).sum,
          scan.batches.map(_.textBytes).sum,
          scan.batches.count(_.nodeMismatch).toLong,
          stream.length.toLong, scan.clean)
      })
      .toDF("file_id", "n_batches", "n_rows", "null_texts", "id_sum",
        "text_bytes", "node_mismatches", "arrow_bytes", "clean")
      .orderBy(col("file_id"))
  }

  /** Closed-form census: the schema frame and per-batch metadata are
    * CONSTANT sizes (flatbuffers lengths are fixed-width ints —
    * SourcesSpec pins row-count independence), computed once from the
    * codec at oracle-build time; each batch body is the 8-aligned
    * buffer chain [empty id-validity][n·8 id data][⌈n/8⌉ bitmap]
    * [(n+1)·4 offsets][non-null text bytes]. */
  private val arrowScanOracle = {
    import graft.sources.ArrowIpc
    val schemaFrame = 8 + ArrowIpc.schemaMsgLen
    val batchMeta = ArrowIpc.batchMetaLen
    s"""WITH per_batch AS (
       |  SELECT doc_id // $WarcDocsPerFile AS file_id,
       |         (doc_id % 25) // 10 AS batch_no,
       |         COUNT(*) AS n, MIN(doc_id) AS first_id,
       |         SUM(doc_id) AS ids,
       |         SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS nulls,
       |         SUM(CASE WHEN doc_id % 13 <> 0 THEN strlen(text)
       |                  ELSE 0 END) AS tb
       |  FROM documents GROUP BY 1, 2),
       |sized AS (
       |  SELECT *,
       |         ((n * 8 + (n + 7) // 8 + 7) // 8) * 8 AS b2
       |  FROM per_batch),
       |sized2 AS (
       |  SELECT *, ((b2 + (n + 1) * 4 + 7) // 8) * 8 AS b3 FROM sized),
       |framed AS (
       |  SELECT *, 8 + $batchMeta + ((b3 + tb + 7) // 8) * 8 AS frame
       |  FROM sized2)
       |SELECT file_id,
       |       COUNT(*) AS n_batches,
       |       CAST(SUM(n) AS BIGINT) AS n_rows,
       |       CAST(SUM(nulls) AS BIGINT) AS null_texts,
       |       CAST(SUM(ids) AS BIGINT) AS id_sum,
       |       CAST(SUM(tb) AS BIGINT) AS text_bytes,
       |       CAST(SUM(CASE WHEN first_id % 17 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS node_mismatches,
       |       CAST($schemaFrame + SUM(frame) + 8 AS BIGINT) AS arrow_bytes,
       |       TRUE AS clean
       |FROM framed GROUP BY 1 ORDER BY file_id""".stripMargin
  }

  // ------------------------------------------ arrow dictionary scan
  /** Arrow IPC DICTIONARY-encoded stream walk — the second wire
    * feature a real Arrow reader must speak ([[arrowScan]] covered the
    * plain stream): the low-cardinality `source` column ships ONCE as
    * a DictionaryBatch of sorted distinct values and every RecordBatch
    * carries int32 indices into it. The planted defect is the
    * stale-dictionary failure mode: every batch whose first doc_id is
    * a multiple of 17 holds one out-of-range index, which the reader
    * bounds-checks, counts, and nulls — never a crash, never a wrong
    * value. The per-row DECODED source strings land under the hash via
    * a 48-bit md5-prefix sum, so schema dictionary metadata (encoding
    * id, Int32 index type), the dictionary decode, the index decode,
    * and the bounds triage are all proven; arrow_bytes pins the frame
    * layout including the dictionary body.
    *
    * Scale shape: identical to the other container scans; dictionary
    * encoding is precisely what makes a 100 TB string column scannable
    * (4-byte indices instead of repeated strings).
    */
  def arrowDictScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.ArrowIpc
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("source"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        val stream = ArrowIpc.synthDictStream(docs)
        val scan = ArrowIpc.parseDictStream(stream)
        def h12(s: String): Long = {
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          java.lang.Long.parseLong(
            d.take(6).map(b => f"$b%02x").mkString, 16)
        }
        val srcHashSum = scan.batches.map(b =>
          b.srcCounts.map { case (s, c) => h12(s) * c }.sum).sum
        (fid, scan.dict.length, scan.batches.size.toLong,
          scan.batches.map(_.nRows).sum,
          scan.batches.map(_.idSum).sum,
          scan.batches.map(_.nOob).sum,
          srcHashSum, stream.length.toLong, scan.clean)
      })
      .toDF("file_id", "dict_size", "n_batches", "n_rows", "id_sum",
        "n_oob", "src_hashsum", "arrow_bytes", "clean")
      .orderBy(col("file_id"))
  }

  /** Closed-form census: the OOB plant hits the LAST row of affected
    * batches, so its source drops out of the hash sum by doc_id
    * formula; dictionary body size derives from the distinct sources
    * per shard; metadata sizes are codec-computed constants. */
  private val arrowDictScanOracle = {
    import graft.sources.ArrowIpc
    s"""WITH pb AS (
       |  SELECT doc_id // $WarcDocsPerFile AS file_id,
       |         (doc_id % 25) // 10 AS batch_no,
       |         COUNT(*) AS n, MIN(doc_id) AS first_id,
       |         MAX(doc_id) AS last_id, SUM(doc_id) AS ids
       |  FROM documents GROUP BY 1, 2),
       |rowsrc AS (
       |  SELECT doc_id // $WarcDocsPerFile AS file_id,
       |         (doc_id % 25) // 10 AS batch_no, doc_id,
       |         ${Parity.md5KeySql("source", 12)} AS h
       |  FROM documents),
       |oob AS (SELECT file_id, batch_no, last_id FROM pb
       |        WHERE first_id % 17 = 0),
       |hsum AS (
       |  SELECT r.file_id,
       |         CAST(SUM(CASE WHEN o.last_id IS NOT NULL
       |                       AND r.doc_id = o.last_id THEN 0
       |                  ELSE r.h END) AS BIGINT) AS src_hashsum
       |  FROM rowsrc r LEFT JOIN oob o USING (file_id, batch_no)
       |  GROUP BY r.file_id),
       |dicts AS (
       |  SELECT file_id, COUNT(*) AS k, SUM(strlen(source)) AS slen
       |  FROM (SELECT DISTINCT doc_id // $WarcDocsPerFile AS file_id, source
       |        FROM documents)
       |  GROUP BY file_id),
       |sizes AS (
       |  SELECT file_id, COUNT(*) AS n_batches,
       |         CAST(SUM(n) AS BIGINT) AS n_rows,
       |         CAST(SUM(ids) AS BIGINT) AS id_sum,
       |         CAST(SUM(CASE WHEN first_id % 17 = 0 THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_oob,
       |         SUM(8 + ${ArrowIpc.dictBatchMetaLen} + n * 8
       |             + ((n * 4 + 7) // 8) * 8) AS batch_frames
       |  FROM pb GROUP BY 1)
       |SELECT s.file_id, CAST(d.k AS INTEGER) AS dict_size,
       |       s.n_batches, s.n_rows, s.id_sum, s.n_oob, h.src_hashsum,
       |       CAST(${8 + ArrowIpc.dictSchemaMsgLen}
       |            + 8 + ${ArrowIpc.dictMetaLen}
       |            + ((((d.k + 1) * 4 + 7) // 8) * 8 + d.slen + 7) // 8 * 8
       |            + s.batch_frames + 8 AS BIGINT) AS arrow_bytes,
       |       TRUE AS clean
       |FROM sizes s JOIN dicts d USING (file_id) JOIN hsum h USING (file_id)
       |ORDER BY s.file_id""".stripMargin
  }

  // ----------------------------------------------- format sniffing
  /** Content-based format dispatch over a MIXED lake — shards arrive
    * with lying or missing extensions and the reader routes each to
    * the right walker by magic bytes alone
    * ([[graft.sources.FormatSniffer]]): each 25-doc group is packed
    * into the container its file_id picks (gzip/zip/tar/WARC/TFRecord/
    * Avro/Arrow, round-robin), and the DISPATCHER — which is never
    * told the format — must classify it and hand it to the right
    * parser from the codec battery. TFRecord is the adversarial case:
    * it has NO magic and is identified last by its self-validating
    * length-CRC frame. The per-format unit counts land under the hash,
    * so a misrouted shard (wrong walker = wrong count or a dirty walk)
    * cannot pass.
    *
    * Scale shape: identical to every container scan — the sniff is a
    * bounded prefix read; at corpus scale this is the first map over
    * `binaryFile` bytes in any mixed-provenance ingest.
    */
  def formatDetect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources._
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        val bytes = docs.map { case (id, t) =>
          (id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val shard = (fid % 7) match {
          case 0 => GzipFiles.synthGzip(bytes)
          case 1 => ZipFiles.synthZip(bytes)
          case 2 => TarFiles.synthTar(bytes)
          case 3 => WarcFiles.synthWarc(fid, bytes)
          case 4 => TfRecordFiles.synthTfRecords(bytes)
          case 5 => AvroFiles.synthAvro(fid, bytes)
          case _ => ArrowIpc.synthArrowStream(docs)
        }
        val s = FormatSniffer.sniffAndWalk(shard)
        (fid, s.format, s.nUnits)
      })
      .toDF("file_id", "detected", "n_units")
      .orderBy(col("file_id"))
  }

  /** Unit-count formulas per format: gzip one member/doc; zip one
    * entry/doc; tar one member/doc + the directory header; WARC
    * warcinfo + request/response pair per doc + a revisit per
    * doc_id%13==0; TFRecord one record/doc; Avro/Arrow ⌈n/10⌉
    * blocks/batches. */
  private val formatDetectOracle =
    s"""WITH g AS (
       |  SELECT doc_id // $WarcDocsPerFile AS file_id, COUNT(*) AS n,
       |         SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS rev
       |  FROM documents GROUP BY 1)
       |SELECT file_id,
       |       CASE file_id % 7
       |         WHEN 0 THEN 'gzip' WHEN 1 THEN 'zip' WHEN 2 THEN 'tar'
       |         WHEN 3 THEN 'warc' WHEN 4 THEN 'tfrecord'
       |         WHEN 5 THEN 'avro' ELSE 'arrow' END AS detected,
       |       CAST(CASE file_id % 7
       |         WHEN 2 THEN n + 1
       |         WHEN 3 THEN 1 + 2 * n + rev
       |         WHEN 5 THEN (n + 9) // 10
       |         WHEN 6 THEN (n + 9) // 10
       |         ELSE n END AS BIGINT) AS n_units
       |FROM g ORDER BY file_id""".stripMargin

  // ----------------------------------------------- gzip member walk
  /** Multi-member gzip walk over synthesized `.wet.gz`-shaped shards
    * ([[graft.sources.GzipFiles]]) — the compression layer under the
    * container battery: Common Crawl's WET/WARC files are
    * CONCATENATIONS of gzip members, one per record, and a reader
    * that stops after member one silently drops the corpus. Each
    * 25-doc group becomes one stream of per-doc members exercising
    * the full RFC 1952 FLG grammar (FNAME always; FEXTRA on 5s;
    * FCOMMENT on 11s; FHCRC on 13s — verified against the
    * hand-rolled CRC table, generator stamped it with
    * `java.util.zip.CRC32`); every 17th doc's trailer CRC is off by
    * one bit and must be triaged, not fatal. DEFLATE itself goes
    * through the JDK `Inflater` in raw mode — framing is the
    * engine's job, entropy coding is a solved library problem. The
    * inflated byte total and per-member FNAME byte total land under
    * the hash, so header-skip arithmetic and member re-alignment are
    * both proven.
    *
    * Scale shape: same as the other containers — map-side over
    * bounded groups; real dumps swap the synth for `binaryFile`
    * reads, and because member boundaries are found by the inflater
    * itself the walk needs no index. */
  /** The synthetic `.wet.gz`-shaped shards: one multi-member gzip per
    * [[WarcDocsPerFile]]-doc group. */
  private[graft] def synthGzipFrame(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    import graft.sources.GzipFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        (fid, GzipFiles.synthGzip(docs.map { case (id, t) =>
          (id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }))
      })
      .toDF("file_id", "gz")
  }

  /** The member walk as a frame function — (file_id, gz binary) rows
    * in, one row per parsed member out (+ the per-file structural
    * verdict on every row) — so the batch rollup and the streaming
    * ingest twin run ONE walk definition. */
  private[graft] def gzipMemberFrame(files: DataFrame): DataFrame = {
    import graft.sources.GzipFiles
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("file_id"), col("gz"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (fid, gz) =>
        val scan = GzipFiles.parseGzip(gz)
        scan.members.map(m =>
          (fid, m.name, m.rawLen, m.crcOk, m.isizeOk, scan.clean))
      })
      .toDF("file_id", "name", "raw_len", "crc_ok", "isize_ok", "clean")
  }

  def gzipMembers(spark: SparkSession, sfDir: String): DataFrame =
    gzipMemberFrame(synthGzipFrame(spark, sfDir))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(!col("crc_ok"), 1L).otherwise(0L)).as("n_badcrc"),
        sum(when(col("isize_ok"), 1L).otherwise(0L)).as("n_isize_ok"),
        sum(col("raw_len")).cast("long").as("raw_bytes"),
        sum(length(col("name")).cast("long")).cast("long")
          .as("name_bytes"),
        (min(when(col("clean"), 1L).otherwise(0L)) === 1L).as("clean"))
      .orderBy(col("file_id"))

  /** Closed-form census: member/triage counts, inflated bytes
    * (strlen = UTF-8 octets), and the FNAME byte total
    * (`doc_<id>.txt` = 8 + digits) — compressed sizes are
    * deliberately NOT pinned (deflate output is zlib-version
    * detail, not grammar). */
  private val gzipMembersOracle =
    s"""SELECT doc_id // $WarcDocsPerFile AS file_id,
       |       COUNT(*) AS n_members,
       |       CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_badcrc,
       |       COUNT(*) AS n_isize_ok,
       |       CAST(SUM(strlen(text)) AS BIGINT) AS raw_bytes,
       |       CAST(SUM(8 + strlen(CAST(doc_id AS VARCHAR)))
       |            AS BIGINT) AS name_bytes,
       |       TRUE AS clean
       |FROM documents
       |GROUP BY 1 ORDER BY file_id""".stripMargin

  // ------------------------------------------------------ zstd scan
  /** Zstandard frame walk ([[graft.sources.ZstdFiles]]) — the modern
    * compression beside [[gzipMembers]]' gzip: Common Crawl and new
    * dataset dumps ship `.zst`. Frames here use RAW blocks (valid
    * zstd, no entropy coder — the frame GRAMMAR is the engine's job),
    * every 5th doc is preceded by a SKIPPABLE frame the walk must
    * step over, and every 17th doc's declared content size is off by
    * one — the FCS triage channel (block headers still frame
    * everything, so one lying header costs one frame's trust).
    * Decoded content bytes land under the hash, so the block-split
    * arithmetic and both FCS encodings (1-byte, and 2-byte value−256)
    * are proven in closed form.
    *
    * Scale shape: identical to the other container scans. */
  def zstdScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.ZstdFiles
    Tables.documents(spark, sfDir)
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .mapPartitions(_.map { case (fid, docs) =>
        val z = ZstdFiles.synthZstd(docs.map { case (id, t) =>
          (id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        })
        val scan = ZstdFiles.parseZstd(z)
        (fid, scan.frames.size.toLong, scan.skippable,
          scan.frames.count(!_.fcsOk).toLong,
          scan.frames.map(_.decoded).sum,
          scan.frames.map(_.nBlocks).sum, z.length.toLong, scan.clean)
      })
      .toDF("file_id", "n_frames", "n_skippable", "n_fcs_bad",
        "content_bytes", "n_blocks", "zstd_bytes", "clean")
      .orderBy(col("file_id"))
  }

  /** Closed-form census: per doc 12 skippable bytes on the 5-stride,
    * then 4 magic + 1 descriptor + FCS width (1 byte under 256 — the
    * 17-stride +1 bias counts — else 2) + 3 bytes per raw block
    * (⌈len/100⌉, min 1 for the empty doc) + the content itself. */
  private val zstdScanOracle =
    s"""SELECT doc_id // $WarcDocsPerFile AS file_id,
       |       COUNT(*) AS n_frames,
       |       CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_skippable,
       |       CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_fcs_bad,
       |       CAST(SUM(strlen(text)) AS BIGINT) AS content_bytes,
       |       CAST(SUM(GREATEST(1, (strlen(text) + 99) // 100))
       |            AS BIGINT) AS n_blocks,
       |       CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 12 ELSE 0 END
       |              + 5
       |              + CASE WHEN strlen(text)
       |                          + CASE WHEN doc_id % 17 = 0
       |                                 THEN 1 ELSE 0 END < 256
       |                     THEN 1 ELSE 2 END
       |              + 3 * GREATEST(1, (strlen(text) + 99) // 100)
       |              + strlen(text)) AS BIGINT) AS zstd_bytes,
       |       TRUE AS clean
       |FROM documents
       |GROUP BY 1 ORDER BY file_id""".stripMargin

  // --------------------------------------------------- sitemap scan
  /** XML sitemap generator for [[sitemapScan]] — per host, `<url>`
    * entries with loc (every 3rd id carries an `&amp;`-escaped query,
    * exercising entity decode), lastmod, priority, and an UNKNOWN
    * `<changefreq>` child on every 17th id that the reader must skip.
    * The xmlns points at example.org (the repo's only sanctioned
    * domain), standing in for the sitemaps.org schema URI — the
    * parser treats it as the opaque attribute it is either way. */
  private[graft] def synthSitemap(source: String, ids: Seq[Long]): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<urlset xmlns=\"https://example.org/schemas/sitemap/0.9\">\n")
    ids.foreach { id =>
      val query = if (id % 3 == 0) "?a=1&amp;b=2" else ""
      sb.append("<url>")
      sb.append(s"<loc>https://$source.example.org/doc/$id$query</loc>")
      if (id % 17 == 0) sb.append("<changefreq>daily</changefreq>")
      sb.append(f"<lastmod>2024-01-${1 + id % 28}%02d</lastmod>")
      sb.append(s"<priority>0.${id % 10}</priority>")
      sb.append("</url>\n")
    }
    sb.append("</urlset>\n")
    sb.toString
  }

  /** Minimal total sitemap walk: `<url>` blocks to (loc, lastmod,
    * priority) with `&amp;/&lt;/&gt;` decode, unknown children
    * skipped, malformed block ⇒ clean stop keeping prior entries. */
  private[graft] def parseSitemap(xml: String)
      : Vector[(String, String, String)] = {
    def decode(s: String): String =
      s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
    val out = Vector.newBuilder[(String, String, String)]
    var p = 0
    var stop = false
    while (!stop) {
      val u = xml.indexOf("<url>", p)
      if (u < 0) stop = true
      else {
        val e = xml.indexOf("</url>", u)
        if (e < 0) stop = true
        else {
          val block = xml.substring(u + 5, e)
          def child(tag: String): String = {
            val o = block.indexOf(s"<$tag>")
            val c = block.indexOf(s"</$tag>")
            if (o >= 0 && c > o) decode(
              block.substring(o + tag.length + 2, c))
            else ""
          }
          out += ((child("loc"), child("lastmod"), child("priority")))
          p = e + 6
        }
      }
    }
    out.result()
  }

  /** Sitemap ingestion — the frontier's OTHER input beside links and
    * robots.txt (RFC 9309 `Sitemap:` lines point here; large sites
    * publish their whole URL space this way, and a crawler that only
    * follows links never sees it). One sitemap per host (source),
    * round-tripped through the codec pair: entity decode, unknown-tag
    * skip, lastmod/priority field extraction — the day and priority
    * sums land under the hash, so a one-character walk slip breaks a
    * column.
    *
    * Scale shape: the container-scan shape — bounded per-host groups,
    * map-side synth+walk, host-sized rollup. */
  def sitemapScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .as[(String, Seq[Long])]
      .mapPartitions(_.map { case (source, ids) =>
        val entries = parseSitemap(synthSitemap(source, ids))
        (source, entries.size.toLong,
          entries.count(_._1.contains("&")).toLong,
          entries.map(_._2.takeRight(2).toLong).sum,
          entries.map(e => e._3.stripPrefix("0.").toLong).sum)
      })
      .toDF("source", "n_urls", "n_amp_locs", "sum_day", "sum_pri_e1")
      .orderBy(col("source"))
  }

  private val sitemapScanOracle =
    """SELECT source, COUNT(*) AS n_urls,
      |       CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_amp_locs,
      |       CAST(SUM(1 + doc_id % 28) AS BIGINT) AS sum_day,
      |       CAST(SUM(doc_id % 10) AS BIGINT) AS sum_pri_e1
      |FROM documents
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  /** RFC-3986-lite reference resolution for the crawl frontier:
    * fragment stripped (same-document reference, never fetched);
    * absolute URLs pass through; "/rooted" joins the base origin;
    * relative paths join the base DIRECTORY; "." and ".." segments
    * squash against a segment stack (".." at root is a no-op, the
    * RFC's remove_dot_segments behavior). Hand-rolled, not
    * `java.net.URI.resolve`, for the codec-family reason: every rule
    * the engine applies is stated here and spec-pinned, not inherited
    * from an opaque library's edge cases. Queries are preserved —
    * they address different resources. */
  private[graft] def resolveUrl(base: String, href0: String): String = {
    val hash = href0.indexOf('#')
    val href = if (hash >= 0) href0.substring(0, hash) else href0
    def squash(path: String): String = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      // split keeps no empty tail marker; re-add a trailing slash below
      path.split("/", -1).drop(1).foreach {
        case "." => ()
        case ".." => if (out.nonEmpty) out.remove(out.length - 1)
        case s => out += s
      }
      "/" + out.mkString("/")
    }
    if (href.isEmpty) base // pure-fragment link: the page itself
    else if (href.matches("[a-zA-Z][a-zA-Z0-9+.-]*://.*")) href
    else {
      val schemeEnd = base.indexOf("://") + 3
      val pathStart = base.indexOf('/', schemeEnd)
      val origin = if (pathStart < 0) base else base.substring(0, pathStart)
      if (href.startsWith("/")) origin + squash(href)
      else {
        val path = if (pathStart < 0) "/" else base.substring(pathStart)
        val dir = path.substring(0, path.lastIndexOf('/') + 1)
        origin + squash(dir + href)
      }
    }
  }

  /** Outlink extraction + normalization — the crawl-FRONTIER half of
    * the front door ([[htmlExtract]] is the content half): every
    * `<a href>` in the page (double-, single-, and un-quoted forms),
    * resolved against the page's own URL by [[resolveUrl]], rolled up
    * to per-URL reference counts — the table a frontier scheduler
    * prioritizes from. The generator plants all three quote styles, a
    * doc-dependent target (id mod 7 — so reference counts actually
    * vary), a dot-segment-free relative path, and an off-site
    * absolute URL with query + fragment; the oracle reconstructs the
    * exact normalized URL multiset per doc from the id formulas, so
    * the attribute scan AND every resolution rule sit under the
    * driver hash.
    *
    * Scale shape: map-side parse + one hash aggregate on the URL key
    * — the same two-stage shape as every frequency rollup here; at
    * 100 TB the URL key is high-cardinality and uniform-ish (hash
    * aggregate, no skew pathology; a hot URL is exactly what the
    * frontier WANTS surfaced). */
  def linkExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val base = s"https://example.com/docs/$id"
        parseHtml(synthPage(id, text)).links
          .map(l => (id, resolveUrl(base, l.href)))
      })
      .toDF("doc_id", "url")
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("url"))
  }

  private val linkExtractOracle =
    """WITH l AS (
      |  SELECT doc_id, unnest([
      |    'https://example.com/',
      |    'https://example.com/docs',
      |    'https://example.com/about',
      |    'https://example.com/r/1',
      |    'https://example.com/r/' || (doc_id % 7),
      |    'https://example.com/privacy',
      |    'https://example.com/terms',
      |    'https://example.com/docs/legal/cookies',
      |    'https://cdn.example.org/brand.png?v=2']) AS url
      |  FROM documents)
      |SELECT url, COUNT(*) AS n_refs, COUNT(DISTINCT doc_id) AS n_docs
      |FROM l GROUP BY url ORDER BY url""".stripMargin

  // ------------------------------------------------------------------
  /** Anchor-text aggregation — the classic weak-supervision signal of
    * web corpora (anchor text describes the TARGET page better than
    * the target describes itself; it's what trained the first web
    * rankers and still labels retrieval pretraining pairs): for every
    * normalized outlink target, the count of referring links, the
    * number of DISTINCT anchor phrasings, and the modal anchor (ties
    * broken lexicographically). Reuses [[parseHtml]]'s per-link
    * anchor capture and [[resolveUrl]] — one extraction definition
    * across the whole crawl family.
    *
    * The generator plants anchors whose per-target distribution
    * genuinely varies: `/r/1` receives "read more about this" from
    * every doc AND "also see that page" from the ids ≡ 1 (mod 7), so
    * the modal-anchor argmax is exercised, not constant. The oracle
    * reconstructs the exact (url, anchor) multiset from the id
    * formulas — capture, entity decode, whitespace collapse, and
    * resolution all sit under the driver hash.
    *
    * Scale shape: map-side parse → one hash aggregate on (url,
    * anchor) → a window PARTITIONED BY url over the variant rollup
    * (per-key row counts are anchor-vocabulary-bounded, never
    * corpus-bounded) — no global window, no skew pathology. */
  def anchorText(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val base = s"https://example.com/docs/$id"
        parseHtml(synthPage(id, text)).links
          .map(l => (resolveUrl(base, l.href), l.anchor))
      })
      .toDF("url", "anchor")
    val variants = pairs.groupBy(col("url"), col("anchor"))
      .agg(count(lit(1)).as("n"))
    val byUrl = Window.partitionBy(col("url"))
      .orderBy(col("n").desc, col("anchor").asc)
    variants
      .withColumn("rk", row_number().over(byUrl))
      .groupBy(col("url"))
      .agg(sum(col("n")).as("n_refs"),
        count(lit(1)).as("n_variants"),
        max(when(col("rk") === 1, col("anchor"))).as("top_anchor"),
        max(when(col("rk") === 1, col("n"))).as("top_n"))
      .orderBy(col("url"))
  }

  private val anchorTextOracle =
    """WITH l AS (
      |  SELECT 'https://example.com/' AS url, 'Home' AS anchor
      |    FROM documents
      |  UNION ALL SELECT 'https://example.com/docs', 'Docs'
      |    FROM documents
      |  UNION ALL SELECT 'https://example.com/about', 'About'
      |    FROM documents
      |  UNION ALL SELECT 'https://example.com/r/1',
      |    'read more about this' FROM documents
      |  UNION ALL SELECT 'https://example.com/r/' || (doc_id % 7),
      |    'also see that page' FROM documents
      |  UNION ALL SELECT 'https://example.com/privacy', 'Privacy'
      |    FROM documents
      |  UNION ALL SELECT 'https://example.com/terms', 'Terms'
      |    FROM documents
      |  UNION ALL SELECT 'https://example.com/docs/legal/cookies',
      |    'Cookie Policy' FROM documents
      |  UNION ALL SELECT 'https://cdn.example.org/brand.png?v=2',
      |    'Brand' FROM documents),
      |v AS (SELECT url, anchor, COUNT(*) AS n FROM l GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY url
      |        ORDER BY n DESC, anchor) AS rk FROM v)
      |SELECT url, CAST(SUM(n) AS BIGINT) AS n_refs,
      |       COUNT(*) AS n_variants,
      |       MAX(CASE WHEN rk = 1 THEN anchor END) AS top_anchor,
      |       MAX(CASE WHEN rk = 1 THEN n END) AS top_n
      |FROM r GROUP BY url ORDER BY url""".stripMargin

  // ------------------------------------------------------------------
  /** RFC 3986 URL canonicalization — the FIRST dedup of every crawl
    * pipeline (before any content hash runs, the frontier and the
    * seen-set collapse URL aliases): lowercase scheme+host, strip the
    * scheme's default port, percent-decode unreserved characters and
    * uppercase the surviving triplets (§6.2.2), squash `.`/`..` path
    * segments (§5.2.4), drop the fragment, drop tracking parameters
    * (the utm_ family, fbclid, gclid), and sort the query params. Total
    * on any input: malformed percent escapes and scheme-less strings
    * pass through untouched rather than throwing.
    */
  private val TrackingParams = Set("utm_source", "utm_medium",
    "utm_campaign", "utm_term", "utm_content", "fbclid", "gclid")

  private[graft] def canonicalUrl(u: String): String = {
    val noFrag = { val h = u.indexOf('#'); if (h >= 0) u.substring(0, h) else u }
    val se = noFrag.indexOf("://")
    if (se < 0) return noFrag
    val scheme = noFrag.substring(0, se).toLowerCase
    val rest = noFrag.substring(se + 3)
    val authEnd = rest.indexWhere(c => c == '/' || c == '?') match {
      case -1 => rest.length
      case i => i
    }
    var auth = rest.substring(0, authEnd).toLowerCase
    val defPort =
      if (scheme == "https") ":443" else if (scheme == "http") ":80" else ""
    if (defPort.nonEmpty && auth.endsWith(defPort))
      auth = auth.dropRight(defPort.length)
    val tail = rest.substring(authEnd)
    val qAt = tail.indexOf('?')
    val path0 = if (qAt < 0) tail else tail.substring(0, qAt)
    val query0 = if (qAt < 0) "" else tail.substring(qAt + 1)
    // §6.2.2.2: decode unreserved, uppercase surviving triplets;
    // total — a malformed escape is kept verbatim
    def pct(s: String): String = {
      val out = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
          val v = Character.digit(s.charAt(i + 1), 16) * 16 +
            Character.digit(s.charAt(i + 2), 16)
          val ch = v.toChar
          if (ch.isLetterOrDigit && ch < 128 || "-._~".indexOf(ch.toInt) >= 0)
            out.append(ch)
          else out.append('%').append(s.substring(i + 1, i + 3).toUpperCase)
          i += 3
        } else { out.append(c); i += 1 }
      }
      out.toString
    }
    def squash(path: String): String = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      path.split("/", -1).drop(1).foreach {
        case "." => ()
        case ".." => if (out.nonEmpty) out.remove(out.length - 1)
        case s => out += s
      }
      "/" + out.mkString("/")
    }
    val path = squash(pct(if (path0.isEmpty) "/" else path0))
    val params = query0.split("&").filter(_.nonEmpty).map(pct)
      .filterNot { p =>
        val key = p.takeWhile(_ != '=')
        TrackingParams.contains(key)
      }.sorted
    scheme + "://" + auth + path +
      (if (params.isEmpty) "" else "?" + params.mkString("&"))
  }

  /** Canonical-URL dedup census over six deterministic alias forms per
    * doc (uppercase scheme/host + default port, dot segments,
    * tracking-only query, fragment, percent-encoded unreserved
    * octets, explicit `:443` + empty `?`) — every 3rd doc also carries
    * a REAL `q=` param the canonicalizer must keep and sort in from
    * varying positions. All six collapse to one formula-predicted
    * canonical, and a 48-bit md5-prefix sum over the distinct
    * canonicals pins every canonical BYTE under the driver hash (12
    * hex chars: ≤ 2^48 per URL × ~32M URLs/host of headroom before
    * the long sum could wrap — mod the prefix down first past that).
    *
    * Scale shape: pure map-side generate+canonicalize, then the
    * two-level (host, canon) → host rollup — the distinct-aggregate
    * shape every dedup census here uses; the URL key is
    * high-cardinality and hash-distributed.
    */
  def urlCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val h = id % 10
        val p = id % 7
        val q = if (id % 3 == 0) s"q=$id" else ""
        val base = s"site$h.example"
        val pq = s"path$p/page$id"
        def opt(s: String) = if (q.nonEmpty) s else ""
        Seq(
          s"HTTPS://SITE$h.EXAMPLE:443/$pq?" +
            (if (q.nonEmpty) s"$q&utm_medium=m" else "utm_medium=m"),
          s"https://$base/path$p/../$pq" +
            (if (q.nonEmpty) s"?utm_source=feed&$q" else ""),
          s"https://$base/$pq?utm_campaign=c$id" + opt(s"&$q"),
          s"https://$base/$pq" + opt(s"?$q") + s"#sec${id % 5}",
          s"https://$base/pa%74h$p/%70age$id" + opt(s"?$q"),
          s"https://$base:443/$pq" + (if (q.nonEmpty) s"?$q" else "?")
        ).map(raw => (id, raw, canonicalUrl(raw)))
      })
      .toDF("doc_id", "raw", "canon")
      .withColumn("host", regexp_extract(col("canon"), "^https://([^/]+)/", 1))
      .groupBy(col("host"), col("canon"))
      .agg(count(lit(1)).as("n_var"),
        max(when(col("canon").contains("?"), 1L).otherwise(0L)).as("has_q"))
      .groupBy(col("host"))
      .agg(sum(col("n_var")).as("n_raw"),
        count(lit(1)).as("n_canon"),
        (sum(col("n_var")) - count(lit(1))).as("n_dup"),
        sum(col("has_q")).as("n_with_query"),
        sum(Parity.md5Key(col("canon").cast("binary"), 12))
          .as("canon_hashsum"))
      .orderBy(col("host"))
  }

  /** The oracle reconstructs the formula-predicted canonical per doc —
    * if ANY canonicalization rule misfires, either n_canon inflates or
    * the md5-prefix sum of the canonical strings moves. */
  private val urlCanonicalOracle =
    s"""WITH c AS (
      |  SELECT doc_id,
      |         'site' || (doc_id % 10) || '.example' AS host,
      |         'https://site' || (doc_id % 10) || '.example/path' ||
      |           (doc_id % 7) || '/page' || doc_id ||
      |           CASE WHEN doc_id % 3 = 0 THEN '?q=' || doc_id
      |                ELSE '' END AS canon
      |  FROM documents)
      |SELECT host,
      |       COUNT(*) * 6 AS n_raw,
      |       COUNT(*) AS n_canon,
      |       COUNT(*) * 5 AS n_dup,
      |       CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_with_query,
      |       CAST(SUM(${Parity.md5KeySql("canon", 12)})
      |            AS BIGINT) AS canon_hashsum
      |FROM c GROUP BY host ORDER BY host""".stripMargin

  // ------------------------------------------------------------------
  /** Crawl-policy gate — the governance the front door must enforce
    * before a page's text or links enter the corpus: `<meta
    * name=robots>` directives decide whether the page is INDEXABLE
    * (a `noindex` token zeroes its contribution to the training
    * corpus), and per-link `rel=nofollow` marks which outlinks may
    * NOT feed the frontier (C4/CCNet-class pipelines honor both).
    * The directive parse is token-exact (`noindex` must appear as a
    * comma-separated token, case-insensitive — a hypothetical
    * `nosnippet,index` page stays indexable), and the link split
    * reuses the [[Link]] capture [[linkExtract]] already walks — one
    * parse, two policy views.
    *
    * The generator plants `noindex, follow` on every 11th doc and
    * `rel="nofollow"` on one related link of every 3rd doc (plus
    * charset/viewport metas that must NOT trip the robots probe), so
    * the oracle reconstructs every verdict from the id formulas.
    * Scale shape: pure map-side + the presentation sort, like the
    * rest of the front door.
    */
  def robotsGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val page = parseHtml(synthPage(id, text))
        val noindex = page.robotsMeta.exists(
          _.toLowerCase(java.util.Locale.ROOT)
            .split(",").map(_.trim).contains("noindex"))
        val nNo = page.links.count(_.nofollow)
        val toks =
          if (noindex) 0L
          else {
            val extracted = extractDoc(id, synthPage(id, text))._6
            if (extracted.isEmpty) 0L
            else extracted.count(_ == ' ').toLong + 1L
          }
        (id, noindex, page.links.size, page.links.size - nNo, nNo, toks)
      })
      .toDF("doc_id", "noindex", "n_links", "n_follow", "n_nofollow",
        "indexable_tokens")
      .orderBy(col("doc_id"))
  }

  private val robotsGateOracle =
    """SELECT doc_id,
      |       doc_id % 11 = 0 AS noindex,
      |       CAST(9 AS INTEGER) AS n_links,
      |       CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 9 END AS INTEGER)
      |         AS n_follow,
      |       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
      |         AS n_nofollow,
      |       CAST(CASE WHEN doc_id % 11 = 0 THEN 0
      |            ELSE len(string_split(text, ' ')) END AS BIGINT)
      |         AS indexable_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Charset detection + mojibake repair — the byte-level stage that
  // runs BEFORE the HTML parse (CCNet/C4 pipelines normalize bytes to
  // UTF-8 first; a crawl delivers a mix of true UTF-8, legacy
  // Windows-1252, double-encoded UTF-8 mojibake, and mid-response
  // truncations). Everything below detects from BYTES ONLY — the
  // class formulas live only in the generator and oracle.

  /** Result of one structural UTF-8 scan: `valid` = the whole buffer
    * is well-formed; `truncatedAt` ≥ 0 marks a buffer whose ONLY
    * defect is an incomplete final sequence (its lead byte offset —
    * the repair point); `nMulti` counts complete multibyte
    * sequences. */
  private[graft] final case class Utf8Scan(
      valid: Boolean, truncatedAt: Int, nMulti: Int)

  /** Hand-rolled structural UTF-8 validator (RFC 3629 table): rejects
    * overlongs (C0/C1, E0 80-9F, F0 80-8F leads), UTF-16 surrogates
    * (ED A0-BF), planes above U+10FFFF (F4 90+, F5-FF), and stray or
    * missing continuation bytes. Hand-rolled for the codec-family
    * reason — `CharsetDecoder` reports *that* bytes are malformed,
    * not *where/why*, and the truncation-vs-corruption distinction
    * below is exactly the "where" (a dangling final lead is a cut-off
    * response worth salvaging; a mid-stream defect means the bytes
    * were never UTF-8). */
  private[graft] def utf8Scan(b: Array[Byte]): Utf8Scan = {
    var i = 0; var nMulti = 0
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else {
        val need =
          if (c >= 0xc2 && c <= 0xdf) 1
          else if (c >= 0xe0 && c <= 0xef) 2
          else if (c >= 0xf0 && c <= 0xf4) 3
          else return Utf8Scan(valid = false, -1, nMulti)
        def contOk(j: Int): Boolean = {
          val x = b(j) & 0xff
          val lo = (c, j - i) match {
            case (0xe0, 1) => 0xa0 // overlong 3-byte
            case (0xed, 1) => 0x80 // (hi bound below) surrogate block
            case (0xf0, 1) => 0x90 // overlong 4-byte
            case _ => 0x80
          }
          val hi = (c, j - i) match {
            case (0xed, 1) => 0x9f // ED A0-BF = surrogates
            case (0xf4, 1) => 0x8f // above U+10FFFF
            case _ => 0xbf
          }
          x >= lo && x <= hi
        }
        if (i + need >= n) {
          // ran off the end: truncation ONLY if every present
          // continuation byte is in range — else it's corruption
          var j = i + 1
          while (j < n && contOk(j)) j += 1
          return Utf8Scan(valid = false, if (j == n) i else -1, nMulti)
        }
        var j = i + 1
        while (j <= i + need) {
          if (!contOk(j)) return Utf8Scan(valid = false, -1, nMulti)
          j += 1
        }
        nMulti += 1
        i += need + 1
      }
    }
    Utf8Scan(valid = true, -1, nMulti)
  }

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** Detect + repair one byte buffer. Decision procedure (bytes
    * only): (1) structurally valid UTF-8 whose decoded text
    * round-trips through windows-1252 back into VALID UTF-8 bytes
    * with at least one multibyte sequence → `double_utf8` (the
    * classic `Ã©` mojibake: some upstream read UTF-8 bytes as 1252
    * and re-encoded); repair = that round-trip, undoing one layer.
    * Plain ASCII never trips the probe (zero multibyte after
    * re-encode), and genuine UTF-8 accents don't either (their 1252
    * re-encode is a bare ≥0x80 byte — structurally invalid). (2)
    * valid otherwise → `utf8` as-is. (3) invalid only by an
    * incomplete FINAL sequence → `truncated_utf8`; repair = decode up
    * to the dangling lead (salvage a cut-off response). (4) invalid
    * mid-stream → `cp1252`, the crawl world's dominant legacy
    * fallback (every byte maps, so the decode is total); repair =
    * 1252 decode. */
  private[graft] def detectRepair(b: Array[Byte]): (String, String) = {
    val scan = utf8Scan(b)
    if (scan.valid) {
      val t = new String(b, Utf8)
      if (scan.nMulti > 0 && t.forall(Cp1252.newEncoder.canEncode)) {
        val undone = t.getBytes(Cp1252)
        val inner = utf8Scan(undone)
        if (inner.valid && inner.nMulti > 0)
          return ("double_utf8", new String(undone, Utf8))
      }
      ("utf8", t)
    } else if (scan.truncatedAt >= 0)
      ("truncated_utf8",
        new String(b, 0, scan.truncatedAt, Utf8))
    else ("cp1252", new String(b, Cp1252))
  }

  /** The planted accent prefix: 5 chars, no ASCII-only degenerate
    * case, exercising every class's byte arithmetic. */
  private val EncPrefix = "café "

  /** Deterministic raw-bytes generator — the wire bytes a crawler
    * would hand the pipeline, class chosen by `id % 4` (the formulas
    * the oracle restates; the DETECTOR never sees the id): 0 = true
    * UTF-8; 1 = windows-1252 (é = single 0xE9 — structurally invalid
    * mid-stream); 2 = double-encoded UTF-8 (the UTF-8 bytes
    * re-read as 1252 and re-encoded — é becomes Ã© on the wire); 3 =
    * UTF-8 cut mid-sequence (a dangling 0xC3 lead). */
  private[graft] def encBytes(id: Long, text: String): Array[Byte] = {
    val s = EncPrefix + text
    (id % 4) match {
      case 0 => s.getBytes(Utf8)
      case 1 => s.getBytes(Cp1252)
      case 2 => new String(s.getBytes(Utf8), Cp1252).getBytes(Utf8)
      case _ => s.getBytes(Utf8) :+ 0xc3.toByte
    }
  }

  /** Charset triage + repair over the synthetic wire bytes: per doc,
    * the detected class, wire byte count, repaired char count, and
    * the repaired text itself — which for every class must equal the
    * planted `café ` prefix + the ORIGINAL document text, so
    * all four repair paths sit under the driver hash (the htmlExtract
    * ground-truth discipline). Scale shape: pure map-side byte walk,
    * zero shuffle before the presentation sort — stage zero of the
    * crawl DAG, upstream even of [[htmlExtract]]. */
  /** (doc_id, raw bytes) frame → charset triage + repair — works
    * identically on a batch frame and a streaming micro-batch
    * (stateless map-side, the [[extractFrame]] discipline), so the
    * byte-level front door and the HTML front door CHAIN into one
    * definition both engines share
    * ([[graft.streaming.StreamingOps.frontDoorStream]]). */
  private[graft] def repairFrame(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    raw
      .select(col("doc_id"), col("raw"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val (detected, repaired) = detectRepair(b)
        (id, detected, b.length, repaired.length, repaired)
      })
      .toDF("doc_id", "detected", "n_bytes", "n_chars", "repaired")
  }

  def encodingRepair(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, encBytes(id, text)) })
      .toDF("doc_id", "raw")
    repairFrame(raw).orderBy(col("doc_id"))
  }

  // Byte arithmetic per class, prefix "café " (5 chars): UTF-8 = 6
  // bytes (é is C3 A9); 1252 = 5 (é is E9); double = 8 (C3→C3 83,
  // A9→C2 A9); truncated = UTF-8 + 1 dangling lead. The é literal is
  // spelled chr(233) so the oracle survives any SQL-transport
  // encoding ambiguity.
  private val encodingRepairOracle =
    """SELECT doc_id,
      |       CASE doc_id % 4 WHEN 0 THEN 'utf8' WHEN 1 THEN 'cp1252'
      |            WHEN 2 THEN 'double_utf8' ELSE 'truncated_utf8'
      |       END AS detected,
      |       CAST(length(text) + CASE doc_id % 4 WHEN 0 THEN 6
      |            WHEN 1 THEN 5 WHEN 2 THEN 8 ELSE 7 END
      |         AS INTEGER) AS n_bytes,
      |       CAST(length(text) + 5 AS INTEGER) AS n_chars,
      |       'caf' || chr(233) || ' ' || text AS repaired
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // robots.txt — the DOMAIN-level crawl policy ([[robotsGate]] is the
  // page-level half): RFC 9309 group selection + longest-match rule
  // evaluation, with the Googlebot wildcard extensions (`*` matches
  // any run, `$` anchors the pattern end) every production crawler
  // honors. Everything below parses TEXT ONLY — the domain formulas
  // live only in the generator and oracle.

  /** One access rule: allow/disallow + its raw path pattern. */
  private[graft] final case class RobotsRule(allow: Boolean, pattern: String)

  /** One user-agent group: the (lowercased) agent tokens naming it,
    * its rules in file order, and its crawl-delay if any. */
  private[graft] final case class RobotsGroup(
      agents: Vector[String], rules: Vector[RobotsRule], delay: Int)

  /** Line-based robots.txt parse (RFC 9309 §2.2): `#` comments
    * stripped; directive names case-insensitive; consecutive
    * `User-agent` lines open ONE group they all name; rules and
    * crawl-delay attach to the open group; rules before any group
    * header are ignored (spec: rules belong to groups); an empty
    * Disallow value means allow-everything and is dropped (it can
    * never match, so keeping it would only distort longest-match). */
  private[graft] def parseRobots(txt: String): Vector[RobotsGroup] = {
    val groups = Vector.newBuilder[RobotsGroup]
    var agents = Vector.empty[String]
    var rules = Vector.empty[RobotsRule]
    var delay = -1
    var inHeader = false // consecutive User-agent lines accumulate
    var open = false
    def flush(): Unit = {
      if (open) groups += RobotsGroup(agents, rules, delay)
      agents = Vector.empty; rules = Vector.empty; delay = -1
    }
    txt.split("\n", -1).foreach { raw =>
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      val c = line.indexOf(':')
      if (c > 0) {
        val key = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(c + 1).trim
        key match {
          case "user-agent" =>
            if (!inHeader) { flush(); open = true }
            inHeader = true
            agents :+= value.toLowerCase(java.util.Locale.ROOT)
          case "allow" | "disallow" if open =>
            inHeader = false
            if (value.nonEmpty || key == "allow")
              rules :+= RobotsRule(key == "allow", value)
          case "crawl-delay" if open =>
            inHeader = false
            delay = try { value.toInt } catch { case _: NumberFormatException => delay }
          case _ => inHeader = false // sitemap/unknown: group continues
        }
      }
    }
    flush()
    groups.result()
  }

  /** Pattern match per RFC 9309 §2.2.3: literal prefix, `*` matches
    * any character run, a trailing `$` anchors the end. Iterative
    * greedy-with-backtrack over segments (no regex — the pattern
    * grammar is tiny and a crawler runs this per URL × rule). */
  private[graft] def robotsMatch(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.dropRight(1) else pattern
    val segs = p.split("\\*", -1)
    var pos = 0
    var i = 0
    while (i < segs.length) {
      val s = segs(i)
      if (i == 0) {
        if (!path.startsWith(s)) return false
        pos = s.length
      } else if (i == segs.length - 1 && anchored) {
        // last segment must END the path (at or after pos)
        return path.length - s.length >= pos && path.endsWith(s)
      } else {
        val at = path.indexOf(s, pos)
        if (at < 0) return false
        pos = at + s.length
      }
      i += 1
    }
    if (anchored) pos == path.length else true
  }

  /** Group selection + longest-match verdict for one agent × path:
    * the group naming the agent specifically wins over `*` (RFC
    * §2.2.1); among matching rules the LONGEST pattern wins,
    * allow winning length ties (§2.2.2); no match = allowed.
    * Returns (allowed, winning pattern or "", group delay). */
  private[graft] def robotsVerdict(
      groups: Vector[RobotsGroup], agent: String, path: String)
      : (Boolean, String, Int) = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val named = groups.filter(_.agents.contains(a))
    val chosen = if (named.nonEmpty) named else groups.filter(_.agents.contains("*"))
    if (chosen.isEmpty) return (true, "", -1)
    val hits = chosen.flatMap(_.rules).filter(r => robotsMatch(r.pattern, path))
    val delay = chosen.map(_.delay).max
    if (hits.isEmpty) (true, "", delay)
    else {
      val best = hits.maxBy(r => (r.pattern.length, r.allow))
      (best.allow, best.pattern, delay)
    }
  }

  /** The candidate paths every domain is probed with — chosen to hit
    * every rule class the generator plants. */
  private[graft] val RobotsPaths: Vector[String] = Vector(
    "/", "/page", "/private/x", "/private/public/y", "/tmp/z",
    "/data.json", "/data.json5")

  private[graft] val NRobotsDomains = 30

  /** Deterministic robots.txt per domain — the formulas the oracle
    * restates: every domain disallows `/private/` and `/tmp` for `*`;
    * even domains carve back `Allow: /private/public/`
    * (longest-match must beat the shorter Disallow); every 3rd
    * domain sets a crawl-delay; every 7th plants the wildcard rule
    * disallowing star-dot-json-anchored paths (the `$` must NOT
    * catch `/data.json5`);
    * every 5th adds a `graftbot` group disallowing everything — the
    * specific-agent group must FULLY SHADOW the `*` group, including
    * its crawl-delay. */
  private[graft] def synthRobots(id: Long): String = {
    val sb = new StringBuilder
    sb ++= s"# robots for domain $id\n"
    sb ++= "User-agent: *\n"
    sb ++= "Disallow: /private/\n"
    if (id % 2 == 0) sb ++= "Allow: /private/public/\n"
    sb ++= "Disallow: /tmp # temp trees never indexed\n"
    if (id % 7 == 0) sb ++= "Disallow: /*.json$\n"
    if (id % 3 == 0) sb ++= s"Crawl-delay: ${1 + id % 10}\n"
    if (id % 5 == 0) {
      sb ++= "\nUser-agent: graftbot\n"
      sb ++= "Disallow: /\n"
    }
    sb.result()
  }

  /** Domain-policy evaluation for agent `graftbot` over every
    * candidate path: parse each domain's robots.txt, select the
    * governing group, apply longest-match. Scale shape: pure
    * map-side — a crawler evaluates policy per (domain, URL) with
    * the parsed rule set in hand; here the parse rides in the same
    * row pass (domains × a bounded path list, flatMap — zero
    * shuffle before the presentation sort). */
  def robotsTxt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .where(col("doc_id") < NRobotsDomains)
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        val groups = parseRobots(synthRobots(id))
        RobotsPaths.map { p =>
          val (ok, rule, delay) = robotsVerdict(groups, "graftbot", p)
          (id, p, ok, rule, delay)
        }
      })
      .toDF("domain_id", "path", "allowed", "rule", "crawl_delay")
      .orderBy(col("domain_id"), col("path"))
  }

  private val robotsTxtOracle =
    s"""WITH d AS (
       |  SELECT doc_id AS domain_id FROM documents
       |  WHERE doc_id < $NRobotsDomains),
       |p AS (SELECT * FROM (VALUES ('/'), ('/page'), ('/private/x'),
       |  ('/private/public/y'), ('/tmp/z'), ('/data.json'),
       |  ('/data.json5')) AS t(path)),
       |v AS (
       |  SELECT domain_id, path,
       |    domain_id % 5 = 0 AS bot_blocked,
       |    CASE path
       |      WHEN '/private/x' THEN '/private/'
       |      WHEN '/private/public/y' THEN
       |        CASE WHEN domain_id % 2 = 0 THEN '/private/public/'
       |             ELSE '/private/' END
       |      WHEN '/tmp/z' THEN '/tmp'
       |      WHEN '/data.json' THEN
       |        CASE WHEN domain_id % 7 = 0 THEN '/*.json$$' ELSE '' END
       |      ELSE '' END AS star_rule
       |  FROM d CROSS JOIN p)
       |SELECT domain_id, path,
       |       CASE WHEN bot_blocked THEN FALSE
       |            WHEN star_rule = '' THEN TRUE
       |            ELSE star_rule = '/private/public/' END AS allowed,
       |       CASE WHEN bot_blocked THEN '/' ELSE star_rule END AS rule,
       |       CAST(CASE WHEN bot_blocked THEN -1
       |            WHEN domain_id % 3 = 0 THEN 1 + domain_id % 10
       |            ELSE -1 END AS INTEGER) AS crawl_delay
       |FROM v ORDER BY domain_id, path""".stripMargin

  // -------------------------------------------------- crawl frontier
  /** Crawl-frontier scheduling — what a crawler DOES with the outlinks
    * once [[linkExtract]] has normalized them: dedup the frontier
    * (distinct URL — the seen-set), shard it BY HOST (the unit of
    * politeness: every real crawler serializes fetches per host),
    * prioritize within each host by in-link count (the frontier's
    * cheapest usefulness signal), and space fetches by the host's
    * crawl delay — so the per-host makespan, not the URL count, is
    * the completion metric. Here each doc's site lives on its
    * source's host (`{source}.example.org`), giving a multi-host
    * frontier; the per-host delay uses a closed-form stand-in
    * (1 + len(host) % 5 s) for the robots.txt `Crawl-delay` the full
    * RFC 9309 interpreter ([[robotsTxt]]) supplies — the formula
    * keeps the oracle arithmetic while the interpreter's semantics
    * stay pinned by `q_robotstxt`.
    *
    * Scale shape: link emission is the map-side [[parseHtml]] walk;
    * the frontier dedup is one (host,url)-keyed partial-aggregated
    * exchange; prioritization is a host-PARTITIONED window (rank-1
    * filter → WindowGroupLimit pushes a per-partition limit below the
    * sort, the rrfFusion pin) — hosts are the natural shard key, so
    * the frontier parallelizes exactly as the fetch fleet does; the
    * rollup is host-sized. No global sort, no driver state.
    */
  def crawlFrontier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val links = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (id, src, text) =>
        val base = s"https://$src.example.org/docs/$id"
        parseHtml(synthPage(id, text)).links
          .map(l => resolveUrl(base, l.href))
      })
      .toDF("url")
      .withColumn("host", regexp_extract(col("url"), "https://([^/]+)", 1))
    val urls = links.groupBy(col("host"), col("url"))
      .agg(count(lit(1)).as("n_refs"))
    val w = Window.partitionBy(col("host"))
      .orderBy(col("n_refs").desc, col("url"))
    val first = urls.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("host"), col("url").as("first_fetch"))
    urls.groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"), sum(col("n_refs")).as("n_refs"))
      .join(first, Seq("host"))
      .withColumn("crawl_delay_s", lit(1L) + length(col("host")) % 5)
      .withColumn("makespan_s",
        (col("n_urls") - 1) * col("crawl_delay_s"))
      .select(col("host"), col("n_urls"), col("n_refs"),
        col("crawl_delay_s").cast("long").as("crawl_delay_s"),
        col("makespan_s").cast("long").as("makespan_s"),
        col("first_fetch"))
      .orderBy(col("host"))
  }

  private val crawlFrontierOracle =
    """WITH l AS (
      |  SELECT unnest([
      |    'https://' || source || '.example.org/',
      |    'https://' || source || '.example.org/docs',
      |    'https://' || source || '.example.org/about',
      |    'https://' || source || '.example.org/r/1',
      |    'https://' || source || '.example.org/r/' || (doc_id % 7),
      |    'https://' || source || '.example.org/privacy',
      |    'https://' || source || '.example.org/terms',
      |    'https://' || source || '.example.org/docs/legal/cookies',
      |    'https://cdn.example.org/brand.png?v=2']) AS url
      |  FROM documents),
      |u AS (SELECT regexp_extract(url, 'https://([^/]+)', 1) AS host,
      |             url, COUNT(*) AS n_refs
      |      FROM l GROUP BY 1, 2),
      |f AS (SELECT host, url AS first_fetch,
      |             ROW_NUMBER() OVER (PARTITION BY host
      |                                ORDER BY n_refs DESC, url) AS rk
      |      FROM u),
      |h AS (SELECT host, COUNT(*) AS n_urls,
      |             CAST(SUM(n_refs) AS BIGINT) AS n_refs
      |      FROM u GROUP BY host)
      |SELECT h.host, h.n_urls, h.n_refs,
      |       CAST(1 + length(h.host) % 5 AS BIGINT) AS crawl_delay_s,
      |       CAST((h.n_urls - 1) * (1 + length(h.host) % 5) AS BIGINT)
      |         AS makespan_s,
      |       f.first_fetch
      |FROM h JOIN f ON f.host = h.host AND f.rk = 1
      |ORDER BY h.host""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_robotstxt" -> (robotsTxt _),
    "q_html_extract" -> (htmlExtract _),
    "q_link_extract" -> (linkExtract _),
    "q_anchor_text" -> (anchorText _),
    "q_cdx_index" -> (cdxIndex _),
    "q_msgpack_scan" -> (msgpackScan _),
    "q_url_canonical" -> (urlCanonical _),
    "q_robots_gate" -> (robotsGate _),
    "q_encoding_repair" -> (encodingRepair _),
    "q_warc_scan" -> (warcScan _),
    "q_tar_scan" -> (tarScan _),
    "q_zip_scan" -> (zipScan _),
    "q_xml_scan" -> (xmlScan _),
    "q_tfrecord_scan" -> (tfrecordScan _),
    "q_avro_scan" -> (avroScan _),
    "q_arrow_scan" -> (arrowScan _),
    "q_arrow_dict" -> (arrowDictScan _),
    "q_format_detect" -> (formatDetect _),
    "q_gzip_members" -> (gzipMembers _),
    "q_zstd_scan" -> (zstdScan _),
    "q_sitemap_scan" -> (sitemapScan _),
    "q_crawl_frontier" -> (crawlFrontier _),
    "q_crawl_funnel" -> (crawlFunnel _)
  )

  def oracles: Map[String, String] = Map(
    "q_robotstxt" -> robotsTxtOracle,
    "q_html_extract" -> htmlExtractOracle,
    "q_link_extract" -> linkExtractOracle,
    "q_anchor_text" -> anchorTextOracle,
    "q_cdx_index" -> cdxIndexOracle,
    "q_msgpack_scan" -> msgpackScanOracle,
    "q_url_canonical" -> urlCanonicalOracle,
    "q_robots_gate" -> robotsGateOracle,
    "q_encoding_repair" -> encodingRepairOracle,
    "q_warc_scan" -> warcScanOracle,
    "q_tar_scan" -> tarScanOracle,
    "q_zip_scan" -> zipScanOracle,
    "q_xml_scan" -> xmlScanOracle,
    "q_tfrecord_scan" -> tfrecordScanOracle,
    "q_avro_scan" -> avroScanOracle,
    "q_arrow_scan" -> arrowScanOracle,
    "q_arrow_dict" -> arrowDictScanOracle,
    "q_format_detect" -> formatDetectOracle,
    "q_gzip_members" -> gzipMembersOracle,
    "q_zstd_scan" -> zstdScanOracle,
    "q_sitemap_scan" -> sitemapScanOracle,
    "q_crawl_frontier" -> crawlFrontierOracle,
    "q_crawl_funnel" -> crawlFunnelOracle
  )
}
