package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Markup / boilerplate main-content extraction (t22 family) — the ingest
  * front door of a training-data pipeline: raw corpora arrive as
  * HTML-ish markup, and the first pass decides what text every
  * downstream operator (d1-d10, t*, c*) ever sees. The reference's
  * analogue is its parse layer (stream_parse_transactions.js:741-812:
  * raw log text -> structured records); here the semantics are
  * main-content extraction: tag stripping, boilerplate-block removal by
  * link density, inline-markup flattening, verbatim code-block
  * preservation.
  *
  * Ground truth is PLANTED (the m6/m7 discipline): the markup corpus is
  * synthesized closed-form from `documents.text`, so content vs
  * boilerplate is known per block and extraction quality is a
  * measurement, not an assertion. Per doc:
  *   - nav + footer: link-dense boilerplate (dropped by the extractor —
  *     and labeled boilerplate in truth);
  *   - <h1> = first 4 words, <p> paragraphs = remaining words in 20s
  *     (content; for doc_id%3==0 the first paragraph's first word is
  *     wrapped in an inline <a>, which flattening must keep);
  *   - doc_id%4==0: a <pre> code block whose body contains literal
  *     markup — preserved VERBATIM (tag stripping must not touch it);
  *   - doc_id%5==0: a link-heavy REAL closing paragraph — planted
  *     content the density heuristic wrongly drops (recall < 1: the
  *     heuristic's false-negative mode, measured);
  *   - doc_id%7==0: a text-only cookie banner in a <p> — planted
  *     boilerplate the heuristic wrongly keeps (precision < 1: the
  *     false-positive mode link density cannot see).
  *
  * The extractor is a pure function of the html column (it never peeks
  * at the clean text): block scan via one non-greedy regex (RE2-safe —
  * no backreferences, so the DuckDB oracle runs the identical pattern),
  * per-block tag/inner/text/link-length, keep = not nav/footer and
  * (pre or link_density <= threshold). All per-row column expressions
  * (regex + higher-order functions) — scan-parallel, no shuffle in the
  * per-doc query; the quality rollup is one groupBy(source). Quality
  * averages are micro-averages (ratio of integer sums), never
  * float-accumulation-order-dependent.
  */
object Markup {

  private val Thresh = 0.33

  private val NavHtml = """<nav><a href="/h">home</a> <a href="/a">about</a> <a href="/c">contact</a></nav>"""
  private val FooterHtml = """<footer><a href="/p">privacy</a> <a href="/t">terms</a> sitemap <a href="/m">map</a></footer>"""
  private val CookieTxt = "accept cookies privacy preferences"
  private val DegHtml = """<p><a href="/1">extra1</a> <a href="/2">extra2</a> extra3</p>"""
  private val DegTxt = "extra1 extra2 extra3"
  private val PreBody = """ alpha <a href="/k">q</a> beta""" // after code_<id>

  private def normText: Column =
    regexp_replace(lower(trim(col("text"))), "\\s+", " ")
  private val normTextSql =
    "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Synthesized markup for one doc (closed-form from text + doc_id). */
  private def htmlCol: Column = {
    val ws = split(normText, " ")
    val h1w = concat_ws(" ", slice(ws, 1, 4))
    val rest = slice(ws, lit(5), greatest(size(ws) - 4, lit(0)))
    val nPara = ceil(size(rest).cast("double") / 20.0).cast("int")
    val paras = when(size(rest) > 0,
      transform(sequence(lit(0), nPara - 1),
        j => concat_ws(" ", slice(rest, j * 20 + 1, lit(20)))))
      .otherwise(array().cast("array<string>"))
    val p0 = element_at(paras, 1)
    val w0 = element_at(split(p0, " "), 1)
    val p0linked = concat(lit("<a href=\"/x\">"), w0, lit("</a>"),
      p0.substr(length(w0) + lit(1), length(p0)))
    // plant the inline link only into a FULL first paragraph: a short
    // one (rest < 20 words) could push density past the keep threshold,
    // turning planted content into an unplanned failure mode (the %5
    // paragraph exists to plant that deliberately)
    val parasFinal = when(col("doc_id") % 3 === 0 && size(rest) >= 20,
      concat(array(p0linked),
        slice(paras, lit(2), greatest(size(paras) - 1, lit(0)))))
      .otherwise(paras)
    val paraHtml = concat_ws("",
      transform(parasFinal, p => concat(lit("<p>"), p, lit("</p>"))))
    val preBlock = when(col("doc_id") % 4 === 0,
      concat(lit("<pre>code_"), col("doc_id").cast("string"),
        lit(PreBody + "</pre>"))).otherwise(lit(""))
    val degBlock = when(col("doc_id") % 5 === 0, lit(DegHtml)).otherwise(lit(""))
    val cookieBlock = when(col("doc_id") % 7 === 0,
      lit("<p>" + CookieTxt + "</p>")).otherwise(lit(""))
    concat(lit(NavHtml), lit("<h1>"), h1w, lit("</h1>"), paraHtml,
      preBlock, degBlock, cookieBlock, lit(FooterHtml))
  }

  /** Perfect-extraction target: every content block's text in block
    * order, space-joined — the planted truth the extractor is graded
    * against (never derived from the html).
    */
  private def expectedCol: Column = concat(
    normText,
    when(col("doc_id") % 4 === 0,
      concat(lit(" code_"), col("doc_id").cast("string"), lit(PreBody)))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 0, lit(" " + DegTxt)).otherwise(lit("")))

  private val BlockPat = "<(nav|h1|p|pre|footer)>.*?</(nav|h1|p|pre|footer)>"
  private val TagPat = "^<(nav|h1|p|pre|footer)>"
  private val InnerPat = "^<(?:nav|h1|p|pre|footer)>(.*)</(?:nav|h1|p|pre|footer)>$"
  private val LinkPat = "<a [^>]*>([^<]*)</a>"

  /** Parsed block structs: (tag, inner, txt, keep, content). `keep` is
    * the extractor's decision; `content` is the planted truth label.
    */
  private def parsedCol(html: Column): Column = {
    val blocks = regexp_extract_all(html, lit(BlockPat), lit(0))
    transform(blocks, b => {
      val tag = regexp_extract(b, TagPat, 1)
      val inner = regexp_extract(b, InnerPat, 1)
      val txt = regexp_replace(inner, "<[^>]*>", "")
      val linkLen = aggregate(
        regexp_extract_all(inner, lit(LinkPat), lit(1)),
        lit(0L), (a, x) => a + length(x).cast("long"))
      val density = linkLen.cast("double") /
        greatest(length(txt), lit(1)).cast("double")
      val keep = tag =!= "nav" && tag =!= "footer" &&
        (tag === "pre" || density <= Thresh)
      val content = tag.isin("h1", "p", "pre") && txt =!= CookieTxt
      struct(tag.as("tag"), inner.as("inner"), txt.as("txt"),
        keep.as("keep"), content.as("content"))
    })
  }

  private def extractedCol(parsed: Column): Column =
    concat_ws(" ", transform(
      filter(parsed, s => s.getField("keep")),
      s => when(s.getField("tag") === "pre", s.getField("inner"))
        .otherwise(s.getField("txt"))))

  /** Per-doc extraction (t22_markup_extract): block inventory, truth
    * confusion counts, and exact-recovery flag. extract_exact is 1 iff
    * the extracted text equals the planted content string — by
    * construction 0 exactly for docs carrying a planted heuristic
    * failure (%5 false negative, %7 false positive).
    */
  def extract(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), htmlCol.as("html"),
        expectedCol.as("expected"))
      .withColumn("parsed", parsedCol(col("html")))
    d.select(
      col("doc_id"),
      col("source"),
      size(col("parsed")).cast("long").as("n_blocks"),
      size(filter(col("parsed"), s => s.getField("keep")))
        .cast("long").as("n_kept"),
      size(filter(col("parsed"), s => s.getField("content")))
        .cast("long").as("n_content"),
      size(filter(col("parsed"),
        s => s.getField("keep") && s.getField("content")))
        .cast("long").as("n_kept_content"),
      length(extractedCol(col("parsed"))).cast("long").as("extracted_chars"),
      (extractedCol(col("parsed")) === col("expected")).cast("int")
        .as("extract_exact"))
  }

  /** Test hook: the extractor over an arbitrary html column — the same
    * pure per-row expression chain the t22 queries grade (block scan,
    * link-density drop, verbatim `<pre>`, inline-link flattening).
    */
  private[graft] def extractedFromHtml(html: Column): Column =
    extractedCol(parsedCol(html))

  /** Test hook: the extracted and expected strings themselves (the
    * registered queries expose only their comparison metrics).
    */
  private[graft] def extractedText(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), htmlCol.as("html"), expectedCol.as("expected"))
      .select(col("doc_id"), col("html"),
        extractedCol(parsedCol(col("html"))).as("extracted"), col("expected"))

  /** Corpus quality rollup per source (t22_extract_quality):
    * micro-averaged block recall/precision (ratios of integer sums —
    * deterministic) + exact-recovery counts.
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame =
    extract(spark, sfDir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("extract_exact").cast("long").as("n_exact"),
        sum("n_blocks").cast("long").as("blocks_total"),
        sum("n_kept").cast("long").as("kept_total"),
        (sum("n_kept_content").cast("double") / sum("n_content"))
          .as("block_recall"),
        (sum("n_kept_content").cast("double") / sum("n_kept"))
          .as("block_precision"))

  // ------------------------------------------------------------- oracle

  /** Shared CTE: documents -> html + expected + parsed block list. */
  private val parseCte: String = {
    val h1w = "array_to_string(list_slice(ws, 1, 4), ' ')"
    val para = "array_to_string(list_slice(rest, CAST(j*20+1 AS INT), " +
      "CAST(j*20+20 AS INT)), ' ')"
    s"""toks AS (
          SELECT doc_id, source, string_split($normTextSql, ' ') AS ws,
            $normTextSql AS norm
          FROM documents),
        seg AS (
          SELECT doc_id, source, norm, $h1w AS h1w,
            list_slice(ws, 5, len(ws)) AS rest
          FROM toks),
        paras0 AS (
          SELECT doc_id, source, norm, h1w, len(rest) AS nrest,
            list_transform(range(CAST(ceil(len(rest)/20.0) AS BIGINT)),
              j -> $para) AS paras
          FROM seg),
        paras1 AS (
          SELECT doc_id, source, norm, h1w,
            CASE WHEN doc_id % 3 = 0 AND nrest >= 20 THEN
              list_prepend(
                '<a href="/x">' || string_split(paras[1], ' ')[1] ||
                  '</a>' || substr(paras[1],
                    length(string_split(paras[1], ' ')[1]) + 1),
                list_slice(paras, 2, len(paras)))
            ELSE paras END AS paras
          FROM paras0),
        hdoc AS (
          SELECT doc_id, source, norm,
            '$NavHtml' || '<h1>' || h1w || '</h1>' ||
            array_to_string(list_transform(paras,
              p -> '<p>' || p || '</p>'), '') ||
            CASE WHEN doc_id % 4 = 0
              THEN '<pre>code_' || doc_id || '$PreBody</pre>' ELSE '' END ||
            CASE WHEN doc_id % 5 = 0 THEN '$DegHtml' ELSE '' END ||
            CASE WHEN doc_id % 7 = 0
              THEN '<p>$CookieTxt</p>' ELSE '' END ||
            '$FooterHtml' AS html,
            norm ||
            CASE WHEN doc_id % 4 = 0
              THEN ' code_' || doc_id || '$PreBody' ELSE '' END ||
            CASE WHEN doc_id % 5 = 0 THEN ' $DegTxt' ELSE '' END AS expected
          FROM paras1),
        parsed AS (
          SELECT doc_id, source, expected,
            list_transform(regexp_extract_all(html, '$BlockPat'), b -> {
              'tag': regexp_extract(b, '$TagPat', 1),
              'inner': regexp_extract(b, '$InnerPat', 1),
              'txt': regexp_replace(
                regexp_extract(b, '$InnerPat', 1), '<[^>]*>', '', 'g')
            }) AS blks
          FROM hdoc),
        labeled AS (
          SELECT doc_id, source, expected,
            list_transform(blks, s -> {
              'tag': s.tag, 'inner': s.inner, 'txt': s.txt,
              'keep': s.tag <> 'nav' AND s.tag <> 'footer' AND
                (s.tag = 'pre' OR
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(regexp_extract_all(s.inner, '$LinkPat', 1),
                     x -> CAST(length(x) AS BIGINT))), (a, x) -> a + x)
                   AS DOUBLE) / greatest(length(s.txt), 1) <= $Thresh),
              'content': s.tag IN ('h1', 'p', 'pre') AND s.txt <> '$CookieTxt'
            }) AS blks
          FROM parsed),
        metrics AS (
          SELECT doc_id, source,
            CAST(len(blks) AS BIGINT) AS n_blocks,
            CAST(len(list_filter(blks, s -> s.keep)) AS BIGINT) AS n_kept,
            CAST(len(list_filter(blks, s -> s.content)) AS BIGINT)
              AS n_content,
            CAST(len(list_filter(blks, s -> s.keep AND s.content))
              AS BIGINT) AS n_kept_content,
            array_to_string(list_transform(list_filter(blks, s -> s.keep),
              s -> CASE WHEN s.tag = 'pre' THEN s.inner ELSE s.txt END),
              ' ') AS extracted,
            expected
          FROM labeled)"""
  }

  def extractSql: String =
    s"""WITH $parseCte
        SELECT doc_id, source, n_blocks, n_kept, n_content, n_kept_content,
          CAST(length(extracted) AS BIGINT) AS extracted_chars,
          CAST(extracted = expected AS INT) AS extract_exact
        FROM metrics"""

  def qualitySql: String =
    s"""WITH $parseCte
        SELECT source,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CAST(extracted = expected AS INT)) AS BIGINT) AS n_exact,
          CAST(sum(n_blocks) AS BIGINT) AS blocks_total,
          CAST(sum(n_kept) AS BIGINT) AS kept_total,
          CAST(sum(n_kept_content) AS DOUBLE) / sum(n_content)
            AS block_recall,
          CAST(sum(n_kept_content) AS DOUBLE) / sum(n_kept)
            AS block_precision
        FROM metrics
        GROUP BY source"""
}
