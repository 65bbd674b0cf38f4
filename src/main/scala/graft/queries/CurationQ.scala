package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, Fuzzy, Text, Urls}
import org.apache.spark.sql.Column

/**
 * Web-corpus curation operators: Unicode normalization, markup stripping,
 * URL canonicalization, fuzzy (edit-distance) value consolidation, and
 * length-grouped batch layout. Every query is oracle-checked — the
 * operators restrict themselves to the Java-regex ∩ RE2 pattern subset
 * and integer/md5 arithmetic so DuckDB replays them bit-identically.
 */
object CurationQ extends QueryGroup {

  /** Seeded denormalized suffix: combining-acute `cafe`+U+0301, a tab, an
    * NBSP — the constructs [[Text.normalizeText]] must canonicalize.
    * DuckDB side builds the identical string with chr(). */
  private val DenormSuffix = " cafe\u0301 x\ty\u00a0z"

  /** Seeded cp1252-mojibake suffixes for [[Text.fixMojibake]] (curly
    * quote/dash/ellipsis E2 80 xx artifacts; Latin-1 accents Ã©/Ã¨;
    * symbol artifacts Â©/Â«Â»). No single quotes — the literals embed in
    * SQL directly. */
  private val MojibakeSuffixA = " donâ€™t Ã©lite â€” fin Ã¨re"
  private val MojibakeSuffixB = " â€œquoteâ€¦ Â© 2024 Â«xÂ» 10Â°"

  /** Seeded script suffixes for [[Text.scriptProfile]]: Cyrillic, CJK +
    * kana, and a Greek/digit/Arabic/Hangul mix. */
  private val ScriptSuffixCyr = " привет мир данные"
  private val ScriptSuffixCjk = " 你好世界 データ処理"
  private val ScriptSuffixMix = " αβγ 123 مرحبا 한글"

  /** The [[Text.MojibakeTable]] repair as a SQL replace chain over
    * `expr` — the fragment q_text_fix_mojibake pins, reused by the
    * composed ingestion pipeline. */
  private def mojibakeFixSql(expr: String): String =
    Text.MojibakeTable.foldLeft(expr) { case (e, (bad, good)) =>
      s"replace($e, '$bad', '$good')"
    }

  /** The artifact COUNT companion (length-delta sum over the table) —
    * one pinned fragment shared by every oracle that reads `changed`. */
  private def nArtifactsSql(expr: String): String =
    Text.MojibakeTable.map { case (bad, _) =>
      s"(length($expr) - length(replace($expr, '$bad', ''))) // ${bad.length}"
    }.mkString(" + ")

  /** Null-coalesced text on BOTH sides of every seeded fixture: the
    * operators coalesce nulls to "" internally, so the seeds must too or
    * a null-text row diverges (Spark concat(null, suffix) is null while
    * a SQL-side coalesce would keep the suffix). */
  private val textNN = "coalesce(text, '')"
  private def textNNCol: Column = coalesce(col("text"), lit(""))

  /** The [[Text.stripMarkup]] chain over `expr` (same fragment as
    * q_text_strip_markup's oracle). */
  private def stripMarkupSql(expr: String): String =
    s"""trim(regexp_replace(
       |    replace(replace(replace(replace(replace(replace(
       |      regexp_replace(regexp_replace(regexp_replace($expr,
       |        '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
       |        '(?s)<!--.*?-->', ' ', 'g'),
       |        '<[^>]+>', ' ', 'g'),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
       |      '&nbsp;', ' '), '&amp;', '&'),
       |    '\\s+', ' ', 'g'))""".stripMargin

  /** The [[Text.normalizeText]] chain over `expr` (same fragment as
    * q_text_normalize's oracle). */
  private def normalizeSql(expr: String): String =
    s"""trim(regexp_replace(regexp_replace(
       |    nfc_normalize($expr), '[\\x{00}-\\x{1f}\\x{7f}\\x{a0}]', ' ', 'g'),
       |    ' +', ' ', 'g'))""".stripMargin

  /** Seeded markup wrapper for [[Text.stripMarkup]] (tags + comment +
    * script block + entities). */
  private val MarkupPre = "<html><body><p class=\"d\">"
  private val MarkupPost = "</p><!-- footer --><script>var x = 1 < 2;</script>" +
    "<ul><li>&amp; &lt;tag&gt; &#39;q&#39;&nbsp;done</li></ul></body></html>"

  /** The seeded synthetic URL both engines derive from (source, doc_id):
    * uppercase www-host (canonicalization must lowercase it), a path, and
    * per-residue tracking params / plain params / fragment. */
  private def urlColSpark = concat(
    lit("https://WWW."), col("source"), (col("doc_id") % 5).cast("string"),
    lit(".example.org"),
    when(col("doc_id") % 2 === 0, concat(lit("/docs/"), col("doc_id").cast("string")))
      .otherwise(lit("")),
    when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string"), lit("&ref=x")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("?id="), (col("doc_id") % 7).cast("string")))
      .otherwise(lit("")),
    when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit("")))

  // single line: embedding a multi-line fragment whose lines START with
  // the `||` concat operator would collide with the outer stripMargin
  private val urlSql =
    "'https://WWW.' || source || CAST(doc_id % 5 AS VARCHAR) || '.example.org' || " +
    "CASE WHEN doc_id % 2 = 0 THEN '/docs/' || CAST(doc_id AS VARCHAR) ELSE '' END || " +
    "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR) || '&ref=x' " +
    "WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END || " +
    "CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END"

  /** Fixed boilerplate document seeded onto every doc_id % 10 == 9 for the
    * e2e pipeline's dedup stage (the corpus has no natural byte-exact
    * dups): long enough to clear the length gate, stopword-rich enough to
    * clear the quality gate, apostrophe-free so the SQL literal is
    * identical. */
  private val BoilerDoc: String =
    "the terms of service and the privacy policy of this site apply to " +
    "all of the content on a page and the use of the data is subject to " +
    "the rules of the site in all cases and is provided on a best effort " +
    "basis to the users of the service"

  def queries: Seq[QueryDef] = Seq(

    // WARC-container round-trip: documents rendered as a WARC-style
    // archive ON DISK (text sink), re-read via the splittable
    // lineSep-delimited scan, headers parsed and the body cut by
    // Content-Length — the oracle is a direct SQL projection of the
    // source table, so a hash match proves render + split + parse are
    // lossless end-to-end. The ingestion front door of a crawl pipeline.
    QueryDef("q_warc_roundtrip",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val uri = concat(lit("http://corpus.example/"), col("source"),
          lit("/"), col("doc_id").cast("string"))
        val path = s"${sys.props("java.io.tmpdir")}/graft_warc_" +
          Integer.toHexString(dir.hashCode)
        graft.sources.Warc.write(docs, "doc_id", "text", uri, path)
        graft.sources.Warc.read(s, path)
          .select(
            regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
              .cast("long").as("doc_id"),
            col("target_uri"), col("content_length"), col("body"))
      },
      Some("""SELECT doc_id,
             |  'http://corpus.example/' || source || '/' || doc_id AS target_uri,
             |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS content_length,
             |  coalesce(text, '') AS body
             |FROM documents""".stripMargin)),

    // The crawl INGESTION FRONT DOOR composed end-to-end: seeded raw HTML
    // (mojibake artifacts on one residue, Cyrillic spam on another) ->
    // WARC archive ON DISK -> splittable re-read -> mojibake repair ->
    // markup strip -> script gate (drop any-Cyrillic docs) -> NFC
    // normalize. Every stage is the operator (and oracle fragment)
    // already pinned individually; the WARC hop is physically executed
    // on the Spark side while the oracle treats it as identity — which
    // is exactly the losslessness claim q_warc_roundtrip isolates.
    QueryDef("q_web_ingest_e2e",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .withColumn("t2",
            when(col("doc_id") % 3 === 0,
              concat(textNNCol, lit(MojibakeSuffixA)))
            .when(col("doc_id") % 5 === 0,
              concat(textNNCol, lit(ScriptSuffixCyr)))
            .otherwise(textNNCol))
          .withColumn("html", concat(lit(MarkupPre), col("t2"), lit(MarkupPost)))
        val path = s"${sys.props("java.io.tmpdir")}/graft_webingest_" +
          Integer.toHexString(dir.hashCode)
        graft.sources.Warc.write(docs, "doc_id", "html",
          concat(lit("http://crawl/"), col("doc_id").cast("string")), path)
        val records = graft.sources.Warc.read(s, path)
          .select(regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
            .cast("long").as("doc_id"), col("body"))
        val repaired = Text.fixMojibake(records, "body", "doc_id")
        val stripped = Text.stripMarkup(repaired, "fixed_text", "doc_id")
        val gated = Text.scriptProfile(stripped, "clean_text", "doc_id",
            carry = Seq("clean_text"))
          .filter(col("n_cyrillic") === 0L)
        Text.normalizeText(gated, "clean_text", "doc_id")
      },
      Some {
        val seeded = s"""CASE WHEN doc_id % 3 = 0 THEN $textNN || '$MojibakeSuffixA'
          |  WHEN doc_id % 5 = 0 THEN $textNN || '$ScriptSuffixCyr'
          |  ELSE $textNN END""".stripMargin
        val cyrCls = Text.ScriptClasses.toMap.apply("cyrillic")
        s"""WITH s AS (SELECT doc_id,
           |    '<html><body><p class="d">' || $seeded || '</p><!-- footer -->'
           |    || '<script>var x = 1 < 2;</script><ul><li>&amp; &lt;tag&gt; '
           |    || '&#39;q&#39;&nbsp;done</li></ul></body></html>' AS t
           |  FROM documents),
           |f AS (SELECT doc_id, ${mojibakeFixSql("t")} AS ft FROM s),
           |u AS (SELECT doc_id, ${stripMarkupSql("ft")} AS clean_text FROM f),
           |g AS (SELECT doc_id, clean_text FROM u
           |  WHERE len(regexp_extract_all(clean_text, '$cyrCls')) = 0),
           |n AS (SELECT doc_id, ${normalizeSql("clean_text")} AS clean_text FROM g)
           |SELECT doc_id, clean_text,
           |  CAST(length(clean_text) AS BIGINT) AS n_chars_norm FROM n""".stripMargin
      }),

    // The ingestion funnel's ATTRITION companion (the
    // q_text_gopher_attrition pattern): per-stage survivor counts of the
    // q_web_ingest_e2e chain — parsed records, mojibake-touched docs,
    // script-gate survivors — the dashboard row an ingest operator
    // watches. Same stages, same oracle fragments, aggregate grain.
    QueryDef("q_web_ingest_attrition",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .withColumn("t2",
            when(col("doc_id") % 3 === 0,
              concat(textNNCol, lit(MojibakeSuffixA)))
            .when(col("doc_id") % 5 === 0,
              concat(textNNCol, lit(ScriptSuffixCyr)))
            .otherwise(textNNCol))
          .withColumn("html", concat(lit(MarkupPre), col("t2"), lit(MarkupPost)))
        // ONE pass: `changed` rides the carry hooks through strip and
        // profile, so the 21-entry repair chain prices the scan once and
        // all three counters come from a single aggregate — no second
        // scan, no join
        val repaired = Text.fixMojibake(docs.select(col("doc_id"),
          col("html")), "html", "doc_id")
        val stripped = Text.stripMarkup(repaired, "fixed_text", "doc_id",
          carry = Seq("changed"))
        val gated = Text.scriptProfile(stripped, "clean_text", "doc_id",
          carry = Seq("changed"))
        gated.agg(
          count(lit(1)).as("n_parsed"),
          sum(when(col("changed"), 1L).otherwise(0L)).as("n_repaired"),
          sum(when(col("n_cyrillic") === 0L, 1L).otherwise(0L))
            .as("n_script_kept"))
      },
      Some {
        val seeded = s"""CASE WHEN doc_id % 3 = 0 THEN $textNN || '$MojibakeSuffixA'
          |  WHEN doc_id % 5 = 0 THEN $textNN || '$ScriptSuffixCyr'
          |  ELSE $textNN END""".stripMargin
        val nArt = nArtifactsSql("t")
        val cyrCls = Text.ScriptClasses.toMap.apply("cyrillic")
        s"""WITH s AS (SELECT doc_id,
           |    '<html><body><p class="d">' || $seeded || '</p><!-- footer -->'
           |    || '<script>var x = 1 < 2;</script><ul><li>&amp; &lt;tag&gt; '
           |    || '&#39;q&#39;&nbsp;done</li></ul></body></html>' AS t
           |  FROM documents),
           |f AS (SELECT doc_id, ($nArt) > 0 AS changed,
           |    ${mojibakeFixSql("t")} AS ft FROM s),
           |u AS (SELECT doc_id, changed, ${stripMarkupSql("ft")} AS clean_text FROM f)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_parsed,
           |  CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_repaired,
           |  CAST(SUM(CASE WHEN len(regexp_extract_all(clean_text, '$cyrCls')) = 0
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_script_kept
           |FROM u""".stripMargin
      }),

    // Compressibility signal (rows-only: DEFLATE is deterministic but
    // DuckDB cannot replay it; orderings are spec-pinned): repetitive
    // residue docs compress far below the prose band and get gated.
    QueryDef("q_text_compression",
      (s, dir) => Text.compressionSignal(
        Tables.load(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat_ws(" ", (1 to 40).map(_ => col("text").substr(1, 24)): _*))
            .otherwise(col("text"))),
        "text", "doc_id"),
      None),

    // Flesch reading ease over period-seeded prose: terminator-group
    // sentences, vowel-group syllables (floor 1 per word), the classic
    // formula — both engines compute the identical counts and doubles.
    QueryDef("q_text_readability",
      (s, dir) => Text.readability(
        Tables.load(s, dir, "documents").withColumn("text",
          regexp_replace(textNNCol, "((\\S+\\s+){6}\\S+)\\s+", "$1. ")),
        "text", "doc_id"),
      Some("""WITH d AS (SELECT doc_id,
             |    regexp_replace(coalesce(text, ''), '((\S+\s+){6}\S+)\s+', '\1. ', 'g') AS t FROM documents),
             |c AS (SELECT doc_id,
             |    CAST(len(list_filter(regexp_split_to_array(lower(t), '\s+'), w -> w <> '')) AS BIGINT) AS n_words,
             |    greatest(CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
             |    CAST(list_sum(list_transform(
             |      list_filter(regexp_split_to_array(lower(t), '\s+'), w -> w <> ''),
             |      w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))) AS BIGINT) AS n_syllables
             |  FROM d)
             |SELECT doc_id, n_words, n_sentences,
             |  coalesce(n_syllables, 0) AS n_syllables,
             |  CASE WHEN n_words > 0 THEN ROUND(206.835
             |    - 1.015 * n_words / n_sentences
             |    - 84.6 * n_syllables / n_words, 6) END AS flesch
             |FROM c""".stripMargin)),

    // Mojibake repair (fixed-table ftfy core): cp1252-misdecoded-UTF-8
    // artifacts seeded per residue, repaired by the replace chain both
    // engines execute identically; artifact count from length deltas.
    QueryDef("q_text_fix_mojibake",
      (s, dir) => Text.fixMojibake(
        Tables.load(s, dir, "documents").withColumn("t2",
          when(col("doc_id") % 3 === 0,
            concat(textNNCol, lit(MojibakeSuffixA)))
          .when(col("doc_id") % 5 === 0,
            concat(textNNCol, lit(MojibakeSuffixB)))
          .otherwise(textNNCol)),
        "t2", "doc_id"),
      Some {
        val seeded = s"""CASE WHEN doc_id % 3 = 0 THEN $textNN || '$MojibakeSuffixA'
          |  WHEN doc_id % 5 = 0 THEN $textNN || '$MojibakeSuffixB'
          |  ELSE $textNN END""".stripMargin
        val nArt = nArtifactsSql("t")
        val fixed = mojibakeFixSql("t")
        s"""WITH s AS (SELECT doc_id, $seeded AS t FROM documents)
           |SELECT doc_id, $fixed AS fixed_text,
           |  CAST($nArt AS BIGINT) AS n_artifacts,
           |  ($nArt) > 0 AS changed
           |FROM s""".stripMargin
      }),

    // Script-composition profile: per-doc counts/ratios of the script
    // classes + majority verdict (earliest class on count ties), over a
    // corpus seeded with Cyrillic/CJK/Greek suffixes per residue.
    QueryDef("q_text_script_profile",
      (s, dir) => Text.scriptProfile(
        Tables.load(s, dir, "documents").withColumn("t2",
          when(col("doc_id") % 3 === 0,
            concat(textNNCol, lit(ScriptSuffixCyr)))
          .when(col("doc_id") % 5 === 0,
            concat(textNNCol, lit(ScriptSuffixCjk)))
          .when(col("doc_id") % 7 === 0,
            concat(textNNCol, lit(ScriptSuffixMix)))
          .otherwise(textNNCol)),
        "t2", "doc_id"),
      Some {
        val seeded = s"""CASE WHEN doc_id % 3 = 0 THEN $textNN || '$ScriptSuffixCyr'
          |  WHEN doc_id % 5 = 0 THEN $textNN || '$ScriptSuffixCjk'
          |  WHEN doc_id % 7 = 0 THEN $textNN || '$ScriptSuffixMix'
          |  ELSE $textNN END""".stripMargin
        val cnts = Text.ScriptClasses.map { case (name, cls) =>
          s"CAST(len(regexp_extract_all(t, '$cls')) AS BIGINT) AS n_$name"
        }.mkString(",\n|    ")
        val mx = Text.ScriptClasses.map(c => s"n_${c._1}")
          .mkString("greatest(", ", ", ")")
        val majority = Text.ScriptClasses.map { case (name, _) =>
          s"WHEN n_$name = __mx THEN '$name'"
        }.mkString(" ")
        val ratios = Text.ScriptClasses.map { case (name, _) =>
          s"CASE WHEN n_chars > 0 THEN ROUND(n_$name * 1.0 / n_chars, 6) ELSE 0.0 END AS ${name}_ratio"
        }.mkString(",\n|  ")
        s"""WITH s AS (SELECT doc_id, $seeded AS t FROM documents),
           |c AS (SELECT doc_id,
           |    CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS BIGINT) AS n_chars,
           |    $cnts
           |  FROM s),
           |m AS (SELECT *, $mx AS __mx FROM c)
           |SELECT doc_id, n_chars, ${Text.ScriptClasses.map(c => s"n_${c._1}").mkString(", ")},
           |  $ratios,
           |  CASE WHEN __mx = 0 THEN 'other' $majority END AS majority
           |FROM m""".stripMargin
      }),

    // The curation pipeline composed END-TO-END: boilerplate-seeded corpus
    // -> markup strip -> PII seed + scrub -> NFC normalize -> quality gate
    // (stop ratio + length) -> exact dedup (keep min id) -> hash split.
    // One hash-matched query proving the curation operators compose with
    // no schema or normalization surprises — the q_llm_e2e counterpart for
    // the cleaning half of the pipeline. Every stage is the SAME operator
    // (and the same oracle fragment) already pinned individually.
    QueryDef("q_curation_e2e",
      (s, dir) => {
        // Core-spread the composed pipeline's INPUT (identity at corpus
        // scale — graft.core.Spread): the strip/scrub/normalize/gate
        // regex chain fuses into one narrow stage by design, which also
        // means it inherits the scan's partition count — on a
        // single-row-group input that is ONE task for the whole chain.
        // The spread lives in the composed query, not the operators, so
        // each gate stays a shuffle-free projection (plan-frozen).
        val docs = graft.core.Spread.toCores(Tables.load(s, dir, "documents"))
          .withColumn("text",
            when(col("doc_id") % 10 === 9, lit(BoilerDoc)).otherwise(col("text")))
          .withColumn("html", concat(lit(MarkupPre), col("text"), lit(MarkupPost)))
        val stripped = Text.stripMarkup(docs, "html", "doc_id")
        val seeded = stripped.withColumn("t2",
          concat(col("clean_text"), lit(" contact user"), col("doc_id"),
            lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7")))
        val scrubbed = Text.scrubPii(seeded, "t2", "doc_id")
        val normed = Text.normalizeText(scrubbed, "clean_text", "doc_id")
        // carry the text through the scorer: the gate is a filter on the
        // same narrow projection, not a join back
        val gated = Text.qualityScore(normed, "clean_text", "doc_id",
            carry = Seq("clean_text"))
          .filter(col("stop_ratio") >= 0.05 && col("n_chars_m") >= 150)
        val groups = Dedup.exactGroups(gated, "clean_text", "doc_id")
        val chash: Column =
          md5(trim(regexp_replace(lower(col("clean_text")), "\\s+", " ")))
        val kept = gated.withColumn("content_hash", chash)
          .join(groups, Seq("content_hash"))
          .filter(col("doc_id") === col("keep_id"))
          .withColumnRenamed("n_docs", "n_dups")
        Text.hashSplit(kept, "doc_id", Seq("train" -> 0.9, "test" -> 0.1))
          .select(col("doc_id"), col("clean_text"), col("stop_ratio"),
            col("n_dups"), col("split"))
      },
      Some {
        val email = "[A-Za-z0-9._%+-]+@(?:[A-Za-z0-9-]+\\.)+[A-Za-z]{2,}"
        val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val phone = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
        val stoplist = Text.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        val hv = Catalog.md5Val16Sql("doc_id")
        s"""WITH d AS (SELECT doc_id,
           |    CASE WHEN doc_id % 10 = 9 THEN '$BoilerDoc' ELSE text END AS text
           |  FROM documents),
           |s AS (SELECT doc_id,
           |    '<html><body><p class="d">' || text || '</p><!-- footer -->'
           |    || '<script>var x = 1 < 2;</script><ul><li>&amp; &lt;tag&gt; '
           |    || '&#39;q&#39;&nbsp;done</li></ul></body></html>' AS t
           |  FROM d),
           |u AS (SELECT doc_id, trim(regexp_replace(
           |    replace(replace(replace(replace(replace(replace(
           |      regexp_replace(regexp_replace(regexp_replace(t,
           |        '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
           |        '(?s)<!--.*?-->', ' ', 'g'),
           |        '<[^>]+>', ' ', 'g'),
           |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           |      '&nbsp;', ' '), '&amp;', '&'),
           |    '\\s+', ' ', 'g')) AS ct1 FROM s),
           |p0 AS (SELECT doc_id, ct1 || ' contact user' || CAST(doc_id AS VARCHAR)
           |    || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t2
           |  FROM u),
           |p AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t2,
           |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'),
           |    '$ip', '<IP>', 'g') AS ct2 FROM p0),
           |n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
           |    nfc_normalize(ct2), '[\\x{00}-\\x{1f}\\x{7f}\\x{a0}]', ' ', 'g'),
           |    ' +', ' ', 'g')) AS ct3 FROM p),
           |q AS (SELECT doc_id, ct3,
           |    CAST(length(ct3) AS BIGINT) AS n_chars,
           |    ROUND(len(list_filter(regexp_split_to_array(lower(ct3), '\\s+'),
           |        x -> list_contains($stoplist, x))) * 1.0
           |      / len(regexp_split_to_array(lower(ct3), '\\s+')), 6) AS stop_ratio
           |  FROM n),
           |g AS (SELECT * FROM q WHERE stop_ratio >= 0.05 AND n_chars >= 150),
           |grp AS (SELECT md5(trim(regexp_replace(lower(ct3), '\\s+', ' ', 'g'))) AS chash,
           |    MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups
           |  FROM g GROUP BY 1),
           |k AS (SELECT g.doc_id, g.ct3, g.stop_ratio, grp.n_dups FROM g JOIN grp
           |  ON md5(trim(regexp_replace(lower(g.ct3), '\\s+', ' ', 'g'))) = grp.chash
           |  AND g.doc_id = grp.keep_id)
           |SELECT doc_id, ct3 AS clean_text, stop_ratio, n_dups,
           |  CASE WHEN $hv < 58982 THEN 'train' ELSE 'test' END AS split
           |FROM k""".stripMargin
      }),

    // Unicode NFC + control/NBSP strip + whitespace collapse, via the
    // codegen'd NfcNormalize expression; the seeded suffix forces real
    // composition work (combining acute -> precomposed e-acute)
    QueryDef("q_text_normalize",
      (s, dir) => Text.normalizeText(
        Tables.load(s, dir, "documents")
          .withColumn("text2", concat(col("text"), lit(DenormSuffix))),
        "text2", "doc_id"),
      Some("""WITH s AS (SELECT doc_id,
             |    text || ' cafe' || chr(769) || ' x' || chr(9) || 'y' || chr(160) || 'z' AS t
             |  FROM documents),
             |n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
             |    nfc_normalize(t), '[\x{00}-\x{1f}\x{7f}\x{a0}]', ' ', 'g'),
             |    ' +', ' ', 'g')) AS clean_text FROM s)
             |SELECT doc_id, clean_text,
             |  CAST(length(clean_text) AS BIGINT) AS n_chars_norm FROM n""".stripMargin)),

    // Markup strip: script block dropped wholesale, comment dropped, tags
    // stripped, entities unescaped (&amp; last), whitespace collapsed
    QueryDef("q_text_strip_markup",
      (s, dir) => Text.stripMarkup(
        Tables.load(s, dir, "documents")
          .withColumn("html", concat(lit(MarkupPre), col("text"), lit(MarkupPost))),
        "html", "doc_id"),
      Some("""WITH s AS (SELECT doc_id,
             |    '<html><body><p class="d">' || text || '</p><!-- footer -->'
             |    || '<script>var x = 1 < 2;</script><ul><li>&amp; &lt;tag&gt; '
             |    || '&#39;q&#39;&nbsp;done</li></ul></body></html>' AS t
             |  FROM documents),
             |u AS (SELECT doc_id, trim(regexp_replace(
             |    replace(replace(replace(replace(replace(replace(
             |      regexp_replace(regexp_replace(regexp_replace(t,
             |        '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
             |        '(?s)<!--.*?-->', ' ', 'g'),
             |        '<[^>]+>', ' ', 'g'),
             |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
             |      '&nbsp;', ' '), '&amp;', '&'),
             |    '\s+', ' ', 'g')) AS clean_text FROM s)
             |SELECT doc_id, clean_text,
             |  CAST(length(clean_text) AS BIGINT) AS n_chars_clean FROM u""".stripMargin)),

    // Length-grouped batching: bucket by token-count range, batch within
    // bucket, report per-batch padding waste — all integer arithmetic
    QueryDef("q_length_batches",
      (s, dir) => Text.lengthBatches(Tables.load(s, dir, "documents"),
        "text", "doc_id", batchSize = 8, bucketWidth = 16),
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |b AS (SELECT doc_id, n_tokens, n_tokens // 16 AS bucket FROM t),
             |r AS (SELECT *, row_number() OVER
             |    (PARTITION BY bucket ORDER BY n_tokens, doc_id) AS rn FROM b)
             |SELECT bucket, (rn - 1) // 8 AS batch_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  MAX(n_tokens) AS max_tokens,
             |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             |  CAST(MAX(n_tokens) * CAST(COUNT(*) AS BIGINT) - SUM(n_tokens) AS BIGINT) AS pad_waste
             |FROM r GROUP BY 1, 2""".stripMargin)),

    // Edit-distance near-dup value pairs, length-blocked (lossless:
    // lev <= d bounds the length delta by d) — the DuckDB side runs the
    // naive quadratic join, same result set
    QueryDef("q_fuzzy_pairs",
      (s, dir) => Fuzzy.fuzzyPairs(Tables.load(s, dir, "part"), "p_name", maxDist = 2),
      Some("""WITH n AS (SELECT DISTINCT p_name AS name FROM part)
             |SELECT a.name AS name_a, b.name AS name_b,
             |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
             |FROM n a JOIN n b ON a.name < b.name
             |WHERE levenshtein(a.name, b.name) <= 2""".stripMargin)),

    // Fuzzy consolidation: single-link components over the pair graph,
    // min-name canonical — min-label propagation vs a recursive-CTE
    // transitive closure
    QueryDef("q_fuzzy_canon",
      (s, dir) => Fuzzy.canonicalize(Tables.load(s, dir, "part"), "p_name", maxDist = 2),
      Some("""WITH RECURSIVE n AS (SELECT DISTINCT p_name AS name FROM part),
             |e AS (SELECT a.name AS na, b.name AS nb FROM n a JOIN n b
             |  ON a.name <> b.name WHERE levenshtein(a.name, b.name) <= 2),
             |reach(name, peer) AS (
             |  SELECT name, name FROM n
             |  UNION
             |  SELECT r.name, e.nb FROM reach r JOIN e ON e.na = r.peer)
             |SELECT name, MIN(peer) AS canon FROM reach GROUP BY name""".stripMargin)),

    // Golden-record survivorship over the event log: per user, the
    // latest non-null value/props by (ts, event_id) and the modal
    // event_type (min value on count ties) — the MDM merge that follows
    // fuzzy consolidation.
    QueryDef("q_golden_record",
      (s, dir) => Fuzzy.goldenRecord(Tables.load(s, dir, "events"),
        "user_id", "ts", "event_id",
        recencyFields = Seq("value", "props"),
        majorityFields = Seq("event_type")),
      Some("""WITH r AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_records
             |  FROM events GROUP BY 1),
             |v AS (SELECT DISTINCT user_id,
             |    last_value(value IGNORE NULLS) OVER w AS value,
             |    last_value(props IGNORE NULLS) OVER w AS props
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
             |m AS (SELECT user_id, event_type, COUNT(*) AS c FROM events
             |  WHERE event_type IS NOT NULL GROUP BY 1, 2),
             |mm AS (SELECT user_id, MAX(c) AS mx FROM m GROUP BY 1),
             |pick AS (SELECT m.user_id, MIN(event_type) AS event_type
             |  FROM m JOIN mm ON m.user_id = mm.user_id AND m.c = mm.mx
             |  GROUP BY 1)
             |SELECT r.user_id, r.n_records, v.value, v.props, pick.event_type
             |FROM r LEFT JOIN v USING (user_id)
             |LEFT JOIN pick USING (user_id)""".stripMargin)),

    // Cross-source shingle-overlap matrix: shared distinct 3-gram counts
    // + set Jaccard per source pair (the "which sources need cross-dedup"
    // diagnostic); group-grain distinct bounds the self-join fan-out
    QueryDef("q_source_overlap",
      (s, dir) => Dedup.groupOverlap(Tables.load(s, dir, "documents"),
        "text", "source", n = 3),
      Some("""WITH toks AS (SELECT source, regexp_split_to_array(lower(text), '\s+') AS ts FROM documents),
             |idx AS (SELECT source, ts, unnest(generate_series(1, greatest(len(ts)-2, 0))) AS i FROM toks),
             |sh AS (SELECT DISTINCT source, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM idx),
             |sz AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY source)
             |SELECT a.source AS grp_a, b.source AS grp_b,
             |  CAST(COUNT(*) AS BIGINT) AS n_shared,
             |  ROUND(COUNT(*) * 1.0 /
             |    (MIN(sa.sz) + MIN(sb.sz) - COUNT(*)), 6) AS jaccard
             |FROM sh a JOIN sh b USING(shingle)
             |JOIN sz sa ON sa.source = a.source
             |JOIN sz sb ON sb.source = b.source
             |WHERE a.source < b.source
             |GROUP BY 1, 2""".stripMargin)),

    // Sketch-path twin: per-source HLL shingle sketches, intersection by
    // inclusion-exclusion — DataSketches internals are not replayable in
    // DuckDB, so this is a rows-only entry; CurationSpec pins the estimate
    // against the exact matrix
    QueryDef("q_source_overlap_sketch",
      (s, dir) => Dedup.groupOverlapSketch(Tables.load(s, dir, "documents"),
        "text", "source", n = 3),
      None),

    // Group-preserving (leakage-safe) split: the hash is keyed on the
    // DOMAIN, so every doc of a domain lands in the same split — the
    // contamination guard a per-doc split cannot give
    QueryDef("q_group_split",
      (s, dir) => Text.hashSplit(
        Urls.parse(
          Tables.load(s, dir, "documents").withColumn("url", urlColSpark), "url"),
        "domain", Seq("train" -> 0.9, "test" -> 0.1))
        .select(col("doc_id"), col("domain"), col("split")),
      Some {
        val hv = Catalog.hex16Sql("md5(domain)")
        s"""WITH s AS (SELECT doc_id, $urlSql AS url FROM documents),
           |d AS (SELECT doc_id, regexp_replace(lower(regexp_extract(url,
           |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^www\\.', '') AS domain
           |  FROM s)
           |SELECT doc_id, domain,
           |  CASE WHEN $hv < 58982 THEN 'train' ELSE 'test' END AS split
           |FROM d""".stripMargin
      }),

    // URL parse + canonicalize: lowercase scheme/host, strip tracking
    // params (survivors keep order), drop fragment, default path to /
    QueryDef("q_url_canon",
      (s, dir) => Urls.canonicalize(
        Urls.parse(
          Tables.load(s, dir, "documents").withColumn("url", urlColSpark), "url"),
        "url")
        .select("doc_id", "host", "domain", "tld", "path", "canonical_url"),
      Some(s"""WITH s AS (SELECT doc_id, $urlSql AS url FROM documents),
              |p AS (SELECT doc_id, url,
              |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
              |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
              |  regexp_extract(url, '\\?([^#]*)', 1) AS q
              |  FROM s),
              |d AS (SELECT doc_id, url, host, path, q,
              |  regexp_replace(host, '^www\\.', '') AS domain,
              |  COALESCE(array_to_string(list_filter(string_split(q, '&'),
              |    x -> NOT regexp_matches(x, '^(utm_[a-z]+|ref|fbclid|gclid|mc_cid|mc_eid)=')
              |      AND x <> ''), '&'), '') AS cq
              |  FROM p)
              |SELECT doc_id, host, domain,
              |  regexp_extract(domain, '\\.([a-z0-9-]+)$$', 1) AS tld, path,
              |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' || host
              |    || CASE WHEN path = '' THEN '/' ELSE path END
              |    || CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url
              |FROM d""".stripMargin)),

    // Domain-blocklist gate (the CCNet/RefinedWeb UT1 step): an entry
    // blocks its domain AND every subdomain via the host's dot-suffix
    // chain, most-specific match reported. Seeded hosts carry a lang
    // level so both entry kinds fire: a mid-level suffix ('es.example
    // .org' blocks every es doc) and an exact host. Shuffle-free
    // projection on both engines; the large-blocklist join form is
    // parity-spec'd against this flag in CurationSpec.
    QueryDef("q_url_blocklist",
      (s, dir) => {
        val hosts = Tables.load(s, dir, "documents").withColumn("host",
          concat(col("source"), lit("."), col("lang"), lit(".example.org")))
        Urls.blocklistFlag(hosts, "host",
          Seq("es.example.org", "src1.zh.example.org"))
          .select(col("doc_id"), col("host"), col("blocked_by"), col("blocked"))
      },
      Some("""WITH s AS (SELECT doc_id, source || '.' || lang || '.example.org' AS host FROM documents),
             |c AS (SELECT doc_id, host, string_split(host, '.') AS pa FROM s),
             |ch AS (SELECT doc_id, host, list_transform(generate_series(1, len(pa)),
             |    i -> array_to_string(array_slice(pa, i, len(pa)), '.')) AS chain FROM c),
             |h AS (SELECT doc_id, host, list_filter(chain,
             |    x -> list_contains(['es.example.org', 'src1.zh.example.org'], x)) AS hits FROM ch)
             |SELECT doc_id, host,
             |  CASE WHEN len(hits) > 0 THEN hits[1] ELSE NULL END AS blocked_by,
             |  len(hits) > 0 AS blocked
             |FROM h""".stripMargin)),

    // Domain-level quality gate: per-host doc count + mean score rolled
    // up and broadcast back; hosts with >= 3 docs and mean n_chars below
    // 215 block their documents, under-evidenced hosts never block.
    QueryDef("q_domain_quality_gate",
      (s, dir) => {
        val hosts = Tables.load(s, dir, "documents").withColumn("host",
          concat(col("source"), lit("."), col("lang"), lit(".example.org")))
        Urls.domainQualityGate(hosts, "host", "n_chars",
            minDocs = 3, minMeanScore = 215.0)
          .select(col("doc_id"), col("host"), col("domain_n_docs"),
            col("domain_mean_score"), col("domain_blocked"))
      },
      Some("""WITH s AS (SELECT doc_id, n_chars,
             |    source || '.' || lang || '.example.org' AS host FROM documents),
             |g AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n,
             |    ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS m FROM s GROUP BY 1)
             |SELECT doc_id, s.host, g.n AS domain_n_docs,
             |  g.m AS domain_mean_score,
             |  (g.n >= 3 AND g.m < 215.0) AS domain_blocked
             |FROM s JOIN g ON g.host = s.host""".stripMargin)),

    // Gopher repetition-removal gate (Rae et al. 2021 A1.2): the fixture
    // line-ifies the word-soup corpus (newline every 4 words, blank line
    // every 3 lines) and seeds per-residue hard repetition — a duplicated
    // line (%7), a 'buy now' x5 top-2-gram block (%5), a duplicated
    // paragraph (%11), and a repeated 10-gram (%13) — so every signal
    // family fires. The oracle replays all 15 counters with DuckDB list
    // lambdas; fractions rounded 6 dp on both sides, verdict over the
    // ROUNDED values.
    QueryDef("q_text_repetition_gopher",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val lineified = regexp_replace(regexp_replace(col("text"),
          "((\\S+\\s+){3}\\S+)\\s+", "$1\n"),
          "(([^\\n]+\\n){2}[^\\n]+)\\n", "$1\n\n")
        val seeded = docs.withColumn("text", concat(lineified,
          when(col("doc_id") % 7 === 0,
            lit("\nthe quick brown fox\nthe quick brown fox")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\nbuy now buy now buy now buy now buy now")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit("\n\nspam spam spam\n\nspam spam spam")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit(" one two three four five six seven eight nine ten" +
              " one two three four five six seven eight nine ten"))
            .otherwise(lit(""))))
        Text.gopherRepetition(seeded, "text", "doc_id")
      },
      Some(repetitionOracle)),

    // Paragraph-grain exact dedup ACROSS the corpus (the MassiveText
    // second dedup pass): paragraphified word-soup fixture + two seeded
    // cross-doc boilerplate paragraphs (%4 newsletter, %6 rights) ->
    // verdict per paragraph occurrence with the (min doc, min idx)
    // canonical. Oracle replays split/normalize/md5/first-occurrence.
    QueryDef("q_para_dedup",
      (s, dir) => Dedup.paragraphDups(paraSeeded(s, dir), "text", "doc_id"),
      Some(paraBaseSql + "\n" +
        """SELECT doc_id, para_idx, para_hash,
          |  (canon_doc <> doc_id OR canon_idx <> para_idx) AS is_dup,
          |  canon_doc, canon_idx
          |FROM c""".stripMargin)),

    // The apply side: cut every non-canonical repeated paragraph, rebuild
    // the doc with blank-line joins; bodies never shuffle (array filter
    // over the doc's own paragraph list).
    QueryDef("q_para_dedup_cut",
      (s, dir) => Dedup.dropDuplicateParagraphs(paraSeeded(s, dir), "text", "doc_id"),
      Some(paraBaseSql + ",\n" +
        """dups AS (SELECT doc_id, list(para_idx) AS dl FROM c
          |    WHERE canon_doc <> doc_id OR canon_idx <> para_idx GROUP BY doc_id)
          |SELECT p.doc_id,
          |  coalesce(array_to_string(list_transform(list_filter(range(1, len(ps) + 1),
          |    i -> NOT list_contains(coalesce(dl, CAST([] AS BIGINT[])), i)), i -> ps[i]),
          |    chr(10) || chr(10)), '') AS clean_text,
          |  CAST(len(ps) AS BIGINT) AS n_paras,
          |  CAST(coalesce(len(dl), 0) AS BIGINT) AS n_dropped
          |FROM p LEFT JOIN dups USING (doc_id)""".stripMargin)),

    // Incremental paragraph cut: first half of the corpus is the
    // persisted 16-byte paragraph-hash index, the second half ingests
    // against it — drop known-paragraph occurrences AND within-batch
    // non-canonical repeats, reconstruct each batch doc. The corpus
    // contributes only hashes; batch bodies never shuffle.
    QueryDef("q_para_dedup_incremental",
      (s, dir) => {
        val docs = paraSeeded(s, dir)
        val index = Dedup.paragraphHashIndex(docs.filter(col("doc_id") < 250), "text")
        Dedup.dropKnownParagraphs(docs.filter(col("doc_id") >= 250),
          "text", "doc_id", index)
      },
      Some(paraKeysSql + ",\n" +
        """idx AS (SELECT DISTINCT para_hash FROM k WHERE doc_id < 250),
          |kb AS (SELECT * FROM k WHERE doc_id >= 250),
          |cb AS (SELECT doc_id, para_idx, para_hash,
          |    FIRST_VALUE(doc_id) OVER w AS canon_doc,
          |    FIRST_VALUE(para_idx) OVER w AS canon_idx
          |  FROM kb WINDOW w AS (PARTITION BY para_hash ORDER BY doc_id, para_idx)),
          |dl0 AS (
          |  SELECT doc_id, para_idx FROM cb WHERE canon_doc <> doc_id OR canon_idx <> para_idx
          |  UNION
          |  SELECT kb.doc_id, kb.para_idx FROM kb JOIN idx USING (para_hash)),
          |dups AS (SELECT doc_id, list(para_idx) AS dl FROM dl0 GROUP BY doc_id)
          |SELECT p.doc_id,
          |  coalesce(array_to_string(list_transform(list_filter(range(1, len(ps) + 1),
          |    i -> NOT list_contains(coalesce(dl, CAST([] AS BIGINT[])), i)), i -> ps[i]),
          |    chr(10) || chr(10)), '') AS clean_text,
          |  CAST(len(ps) AS BIGINT) AS n_paras,
          |  CAST(coalesce(len(dl), 0) AS BIGINT) AS n_dropped
          |FROM p LEFT JOIN dups USING (doc_id)
          |WHERE p.doc_id >= 250""".stripMargin)),

    // Content-defined chunking (Rabin-style): boundaries where the
    // 16-char window's md5 starts 0[0-3] (1-in-64), so cut points derive
    // from content and re-sync after edits. The oracle replays the
    // window scan with DuckDB list lambdas over the same md5 rule.
    QueryDef("q_content_chunks",
      (s, dir) => Dedup.contentChunks(Tables.load(s, dir, "documents"),
        "text", "doc_id", window = 16),
      Some(cdcKeysSql("documents") + "\n" +
        """SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
          |  CAST(starts[ci] AS BIGINT) AS chunk_start,
          |  CAST(ends[ci] - starts[ci] + 1 AS BIGINT) AS chunk_len,
          |  md5(substr(text, CAST(starts[ci] AS BIGINT),
          |    CAST(ends[ci] - starts[ci] + 1 AS BIGINT))) AS chunk_hash
          |FROM x""".stripMargin)),

    // Chunk-grain dedup profile over a boilerplate-seeded corpus (every
    // %4 doc carries the same ~200-char block): per doc, how many
    // content-defined chunks (and chars) already exist elsewhere as the
    // canonical copy — the storage-dedup ratio at corpus grain.
    QueryDef("q_content_chunk_dedup",
      (s, dir) => Dedup.contentChunkStats(
        Tables.load(s, dir, "documents").withColumn("text",
          concat(col("text"), when(col("doc_id") % 4 === 0,
            lit(CdcBoilerplate)).otherwise(lit("")))),
        "text", "doc_id", window = 16),
      Some(cdcKeysSql(s"(SELECT doc_id, text || CASE WHEN doc_id % 4 = 0" +
          s" THEN '$CdcBoilerplate' ELSE '' END AS text FROM documents)") + ",\n" +
        """ck AS (SELECT doc_id, ci AS chunk_idx,
          |    CAST(ends[ci] - starts[ci] + 1 AS BIGINT) AS chunk_len,
          |    md5(substr(text, CAST(starts[ci] AS BIGINT),
          |      CAST(ends[ci] - starts[ci] + 1 AS BIGINT))) AS chunk_hash
          |  FROM x),
          |cc AS (SELECT *, FIRST_VALUE(doc_id) OVER w AS canon_doc,
          |    FIRST_VALUE(chunk_idx) OVER w AS canon_idx
          |  FROM ck WINDOW w AS (PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx))
          |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
          |  CAST(SUM(CASE WHEN canon_doc <> doc_id OR canon_idx <> chunk_idx
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
          |  CAST(SUM(CASE WHEN canon_doc <> doc_id OR canon_idx <> chunk_idx
          |    THEN chunk_len ELSE 0 END) AS BIGINT) AS dup_chars,
          |  ROUND(SUM(CASE WHEN canon_doc <> doc_id OR canon_idx <> chunk_idx
          |    THEN CAST(chunk_len AS DOUBLE) ELSE 0.0 END) / SUM(chunk_len), 6) AS dup_frac
          |FROM cc GROUP BY doc_id""".stripMargin)),

    // Production-path chunking: GEAR rolling-hash boundaries (O(1) per
    // char vs the windowed md5's O(window)) — rows-only: the gear table
    // is not expressible to an external engine; CurationSpec ties the
    // family invariants (tiling, edit re-sync) and the md5 variant above
    // stays the oracle fixture.
    QueryDef("q_content_chunks_gear",
      (s, dir) => Dedup.contentChunksGear(Tables.load(s, dir, "documents"),
        "text", "doc_id", window = 16, maskBits = 6),
      None),

    // Production-path chunk-dedup profile: the SAME boilerplate-seeded
    // corpus and stats contract as q_content_chunk_dedup, but boundaries
    // from the GEAR rolling hash (O(1)/char) instead of the O(window)
    // per-char md5 scan — the pairing that prices the boundary families
    // against each other in the bench. Rows-only (the gear table is not
    // expressible to an external engine); CurationSpec holds the parity:
    // the stats machinery over gear boundaries equals an independent
    // recomputation from the gear chunk table.
    QueryDef("q_content_chunk_dedup_gear",
      (s, dir) => Dedup.contentChunkStats(
        Tables.load(s, dir, "documents").withColumn("text",
          concat(col("text"), when(col("doc_id") % 4 === 0,
            lit(CdcBoilerplate)).otherwise(lit("")))),
        "text", "doc_id", graft.ops.ChunkBoundary.Gear(16, 6)),
      None),

    // Production-path incremental cut: gear-boundary twin of
    // q_content_chunk_incremental — index on the first half, ingest the
    // second half against it. Rows-only for the same reason.
    QueryDef("q_content_chunk_incremental_gear",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").withColumn("text",
          concat(col("text"), when(col("doc_id") % 4 === 0,
            lit(CdcBoilerplate)).otherwise(lit(""))))
        val gear = graft.ops.ChunkBoundary.Gear(16, 6)
        val index = Dedup.contentChunkHashIndex(
          docs.filter(col("doc_id") < 250), "text", gear)
        Dedup.dropKnownChunks(docs.filter(col("doc_id") >= 250),
          "text", "doc_id", index, gear)
      },
      None),

    // Incremental chunk cut: first half of the seeded corpus is the
    // persisted 16-byte chunk-hash index, the second half ingests
    // against it — drop chunks already known to the corpus AND
    // within-batch repeats, rebuild each doc from its surviving ranges.
    QueryDef("q_content_chunk_incremental",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").withColumn("text",
          concat(col("text"), when(col("doc_id") % 4 === 0,
            lit(CdcBoilerplate)).otherwise(lit(""))))
        val index = Dedup.contentChunkHashIndex(
          docs.filter(col("doc_id") < 250), "text", window = 16)
        Dedup.dropKnownChunks(docs.filter(col("doc_id") >= 250),
          "text", "doc_id", index, window = 16)
      },
      Some(cdcKeysSql(s"(SELECT doc_id, text || CASE WHEN doc_id % 4 = 0" +
          s" THEN '$CdcBoilerplate' ELSE '' END AS text FROM documents)") + ",\n" +
        """ck AS (SELECT doc_id, ci,
          |    md5(substr(text, CAST(starts[ci] AS BIGINT),
          |      CAST(ends[ci] - starts[ci] + 1 AS BIGINT))) AS h FROM x),
          |idx AS (SELECT DISTINCT h FROM ck WHERE doc_id < 250),
          |kb AS (SELECT * FROM ck WHERE doc_id >= 250),
          |cb AS (SELECT *, FIRST_VALUE(doc_id) OVER w AS cd,
          |    FIRST_VALUE(ci) OVER w AS cc
          |  FROM kb WINDOW w AS (PARTITION BY h ORDER BY doc_id, ci)),
          |dl0 AS (
          |  SELECT doc_id, ci FROM cb WHERE cd <> doc_id OR cc <> ci
          |  UNION
          |  SELECT kb.doc_id, kb.ci FROM kb JOIN idx USING (h)),
          |dups AS (SELECT doc_id, list(ci) AS dl FROM dl0 GROUP BY doc_id)
          |SELECT c.doc_id,
          |  array_to_string(list_transform(list_filter(range(1, len(starts) + 1),
          |    i -> NOT list_contains(coalesce(dl, CAST([] AS BIGINT[])), i)),
          |    i -> substr(text, CAST(starts[i] AS BIGINT),
          |      CAST(ends[i] - starts[i] + 1 AS BIGINT))), '') AS clean_text,
          |  CAST(len(starts) AS BIGINT) AS n_chunks,
          |  CAST(coalesce(len(dl), 0) AS BIGINT) AS n_dropped
          |FROM c LEFT JOIN dups USING (doc_id)
          |WHERE c.doc_id >= 250""".stripMargin)),

    // Main-content block segmentation (jusText heuristic): the fixture
    // wraps each doc in page chrome — a link-dense <nav>, the doc text
    // split across a <div> and a <p> with one inline anchor, a link-heavy
    // <footer>. Per block: chars, link density (anchor chars / chars,
    // 6 dp), keep verdict. Oracle replays split/strip/extract/density.
    QueryDef("q_main_content_blocks",
      (s, dir) => Text.mainContentBlocks(htmlSeeded(s, dir), "html", "doc_id"),
      Some(mainContentBaseSql + "\n" +
        """SELECT doc_id, block_idx, n_chars, link_density,
          |  (n_chars >= 25 AND link_density <= 0.5) AS keep, block_text
          |FROM f""".stripMargin)),

    // The apply side: chrome blocks cut, article text rebuilt per page —
    // entirely in-row on the Spark side (zero shuffle, streaming-legal).
    QueryDef("q_main_content",
      (s, dir) => Text.extractMainContent(htmlSeeded(s, dir), "html", "doc_id"),
      Some(mainContentBaseSql + "\n" +
        """SELECT doc_id,
          |  coalesce(string_agg(CASE WHEN n_chars >= 25 AND link_density <= 0.5
          |      THEN block_text END, chr(10) || chr(10) ORDER BY block_idx), '') AS main_text,
          |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
          |  CAST(SUM(CASE WHEN n_chars >= 25 AND link_density <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          |FROM f GROUP BY doc_id""".stripMargin)),

    // The web front-end composed: main-content extraction feeding the
    // Gopher repetition gate — both this-round stages chained, both
    // oracle fragments reused verbatim, every doc's 17 repetition
    // signals computed over the EXTRACTED article text.
    QueryDef("q_web_repetition_e2e",
      (s, dir) => Text.gopherRepetition(
        Text.extractMainContent(htmlSeeded(s, dir), "html", "doc_id"),
        "main_text", "doc_id"),
      Some(mainContentBaseSql + ",\n" +
        """mt AS (SELECT doc_id,
          |    coalesce(string_agg(CASE WHEN n_chars >= 25 AND link_density <= 0.5
          |        THEN block_text END, chr(10) || chr(10) ORDER BY block_idx), '') AS tx
          |  FROM f GROUP BY doc_id),""".stripMargin + "\n" +
        repetitionSignalsSql("mt"))),

    // Chance-corrected agreement between two quality gates (a char-count
    // gate and a token-count gate): Cohen's kappa separates real
    // consensus from the agreement their acceptance rates force — the
    // audit to run before treating "both gates passed" as evidence.
    QueryDef("q_cohen_kappa",
      (s, dir) => graft.ops.Agreement.cohenKappa(
        Tables.load(s, dir, "documents")
          .select((col("n_chars") > 300).cast("string").as("gate_a"),
            (size(Text.tokens(col("text"))) > 55).cast("string").as("gate_b")),
        "gate_a", "gate_b"),
      Some("""WITH f AS (SELECT CAST(n_chars > 300 AS VARCHAR) AS a,
             |    CAST(len(regexp_split_to_array(lower(text), '\s+')) > 55 AS VARCHAR) AS b
             |  FROM documents),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM f),
             |ma AS (SELECT a AS cat, COUNT(*) AS na FROM f GROUP BY 1),
             |mb AS (SELECT b AS cat, COUNT(*) AS nb FROM f GROUP BY 1),
             |pe AS (SELECT COALESCE(SUM(na * nb), 0) AS pe_num
             |  FROM ma JOIN mb USING(cat)),
             |s AS (SELECT n AS n_items, ROUND(agree * 1.0 / n, 6) AS po,
             |    ROUND(pe_num * 1.0 / (n * n), 6) AS pe FROM tot CROSS JOIN pe)
             |SELECT n_items, po, pe,
             |  CASE WHEN pe < 1.0 THEN ROUND((po - pe) / (1.0 - pe), 6) END AS kappa
             |FROM s""".stripMargin)),

    // Krippendorff's alpha (nominal) over a many-rater table with
    // missing ratings: items = users, rater slots = event_id % 3, each
    // slot's rating = its first event's type — single-rating items drop
    // (no agreement signal), exactly the real annotation-table shape
    // kappa can't handle.
    QueryDef("q_krippendorff",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_id") % 3)
          .orderBy(col("ts"), col("event_id"))
        graft.ops.Agreement.krippendorffAlpha(
          Tables.load(s, dir, "events")
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("user_id").as("item"),
              (col("event_id") % 3).as("rater"),
              col("event_type").as("lab")),
          "item", "rater", "lab")
      },
      Some("""WITH rt AS (SELECT user_id AS item, event_id % 3 AS rater,
             |    event_type AS lab,
             |    ROW_NUMBER() OVER (PARTITION BY user_id, event_id % 3
             |      ORDER BY ts, event_id) AS rn
             |  FROM events),
             |r AS (SELECT item, rater, lab FROM rt WHERE rn = 1),
             |cell AS (SELECT item, lab, COUNT(*) AS n_uc FROM r GROUP BY 1, 2),
             |mu AS (SELECT item, SUM(n_uc) AS m FROM cell GROUP BY 1
             |  HAVING SUM(n_uc) >= 2),
             |kept AS (SELECT cell.*, mu.m FROM cell JOIN mu USING(item)),
             |obs AS (SELECT
             |    COALESCE(SUM(n_uc * (n_uc - 1) * 1.0 / (m - 1)), 0.0) AS occ,
             |    CAST(COUNT(DISTINCT item) AS BIGINT) AS n_items FROM kept),
             |ct AS (SELECT CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS n,
             |    CAST(COALESCE(SUM(nc * (nc - 1)), 0) AS BIGINT) AS pair_num
             |  FROM (SELECT lab, SUM(n_uc) AS nc FROM kept GROUP BY lab)),
             |s AS (SELECT n_items, n AS n_ratings,
             |    ROUND(occ / n, 6) AS ao,
             |    ROUND(pair_num * 1.0 / (n * (n - 1)), 6) AS ae
             |  FROM obs CROSS JOIN ct)
             |SELECT n_items, n_ratings, ao, ae,
             |  CASE WHEN n_ratings >= 2 AND ae < 1.0
             |       THEN ROUND((ao - ae) / (1.0 - ae), 6) END AS alpha
             |FROM s""".stripMargin)),

    // McNemar's paired test between the same two gates q_cohen_kappa
    // scores: kappa says whether they AGREE beyond chance; this says
    // whether their disagreements are one-sided (is one gate
    // systematically stricter). Only the discordant cells matter.
    QueryDef("q_mcnemar",
      (s, dir) => graft.ops.Agreement.mcnemar(
        Tables.load(s, dir, "documents")
          .select((col("n_chars") > 300).as("gate_a"),
            (size(Text.tokens(col("text"))) > 55).as("gate_b")),
        "gate_a", "gate_b"),
      Some("""WITH f AS (SELECT (n_chars > 300) AS a,
             |    (len(regexp_split_to_array(lower(text), '\s+')) > 55) AS b
             |  FROM documents),
             |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS both_pass,
             |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS a_only,
             |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS b_only,
             |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS both_fail
             |  FROM f)
             |SELECT n_items, both_pass, a_only, b_only, both_fail,
             |  CASE WHEN a_only + b_only > 0 THEN
             |    ROUND((a_only - b_only) * (a_only - b_only)
             |      / CAST(a_only + b_only AS DOUBLE), 6) END AS chi2,
             |  CASE WHEN a_only + b_only > 0 THEN
             |    ROUND(POW(CAST(GREATEST(ABS(a_only - b_only) - 1, 0) AS DOUBLE), 2)
             |      / (a_only + b_only), 6) END AS chi2_cc
             |FROM g""".stripMargin))
  )

  /** Shared fixture for the main-content pair: page chrome around the
    * corpus text (nav + split body + footer). */
  private def htmlSeeded(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents").withColumn("html", concat(
      lit("<html><body><nav><a href=\"/\">Home page</a> <a href=\"/a\">About us team</a></nav>"),
      lit("<div>"), expr("substring(text, 1, 80)"), lit("</div>"),
      lit("<p>"), expr("substring(text, 81)"),
      lit(" with a <a href=\"/x\">small link</a> inside</p>"),
      lit("<footer><a href=\"/tos\">Terms of service text</a> (c)</footer></body></html>")))

  /** Main-content oracle CTE chain through per-block signals. */
  private lazy val mainContentBaseSql: String = {
    val blockRe =
      "(?i)</?(?:p|div|li|h[1-6]|ul|ol|table|tr|td|nav|header|footer|article|section|br)(?:\\s[^>]*)?>"
    s"""WITH d AS (SELECT doc_id,
       |    '<html><body><nav><a href="/">Home page</a> <a href="/a">About us team</a></nav>'
       |    || '<div>' || substr(text, 1, 80) || '</div>'
       |    || '<p>' || substr(text, 81) || ' with a <a href="/x">small link</a> inside</p>'
       |    || '<footer><a href="/tos">Terms of service text</a> (c)</footer></body></html>' AS html
       |  FROM documents),
       |b AS (SELECT doc_id, regexp_split_to_array(html, '$blockRe') AS blocks FROM d),
       |e AS (SELECT doc_id, unnest(generate_series(1, len(blocks))) AS i, blocks FROM b),
       |mx AS (SELECT doc_id, i,
       |    trim(regexp_replace(regexp_replace(blocks[i], '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS btext,
       |    length(trim(regexp_replace(regexp_replace(
       |      coalesce(array_to_string(regexp_extract_all(blocks[i], '(?is)<a(?:\\s[^>]*)?>(.*?)</a>', 1), ' '), ''),
       |      '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g'))) AS anchor_chars
       |  FROM e),
       |f AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS block_idx,
       |    CAST(length(btext) AS BIGINT) AS n_chars,
       |    ROUND(anchor_chars * 1.0 / greatest(length(btext), 1), 6) AS link_density,
       |    btext AS block_text
       |  FROM mx WHERE btext <> '')""".stripMargin
  }

  /** Seeded cross-doc boilerplate block for the chunk-dedup fixture —
    * long enough (~3 expected chunks) that interior chunks dedup across
    * docs regardless of where each doc's preceding boundary fell. No
    * single quotes: the literal embeds in SQL directly. */
  private val CdcBoilerplate = " subscribe to our newsletter for updates" +
    " and offers. this website uses cookies to improve your experience." +
    " all rights reserved by the publisher of this content. terms of" +
    " service apply to every visitor of this page."

  /** Content-defined-chunking oracle CTE chain (d, b, c, x) over `src`
    * (a table name or derived-table SQL): boundary positions by the
    * md5-prefix rule, then per-chunk (starts, ends) arrays. Mirrors
    * [[Dedup.contentChunks]] with window 16. */
  private def cdcKeysSql(src: String): String =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM $src
       |  WHERE length(text) > 0),
       |b AS (SELECT doc_id, text, n,
       |    list_filter(generate_series(16, n - 1),
       |      i -> regexp_matches(md5(substr(text, CAST(i - 15 AS BIGINT), 16)), '^0[0-3]')) AS bp
       |  FROM d),
       |c AS (SELECT doc_id, text,
       |    list_prepend(1, list_transform(bp, p -> p + 1)) AS starts,
       |    list_append(bp, CAST(n AS BIGINT)) AS ends FROM b),
       |x AS (SELECT doc_id, text, starts, ends,
       |    unnest(generate_series(1, len(starts))) AS ci FROM c)""".stripMargin

  /** Shared fixture for the paragraph-dedup pair: paragraphified text
    * plus per-residue cross-doc boilerplate paragraphs. */
  private def paraSeeded(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val lineified = regexp_replace(regexp_replace(col("text"),
      "((\\S+\\s+){3}\\S+)\\s+", "$1\n"),
      "(([^\\n]+\\n){2}[^\\n]+)\\n", "$1\n\n")
    Tables.load(s, dir, "documents").withColumn("text", concat(lineified,
      when(col("doc_id") % 4 === 0,
        lit("\n\nsubscribe to our newsletter today")).otherwise(lit("")),
      when(col("doc_id") % 6 === 0,
        lit("\n\nall rights reserved")).otherwise(lit(""))))
  }

  /** Fixture + paragraph-key CTE chain (d, p, e, k) shared by the
    * paragraph-dedup oracles. */
  private lazy val paraKeysSql: String = {
    val trimset = "' ' || chr(9) || chr(10) || chr(13) || chr(12)"
    s"""WITH d AS (SELECT doc_id,
       |    regexp_replace(regexp_replace(text,
       |      '((\\S+\\s+){3}\\S+)\\s+', '\\1' || chr(10), 'g'),
       |      '(([^\\n]+\\n){2}[^\\n]+)\\n', '\\1' || chr(10) || chr(10), 'g')
       |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || chr(10) || 'subscribe to our newsletter today' ELSE '' END
       |    || CASE WHEN doc_id % 6 = 0 THEN chr(10) || chr(10) || 'all rights reserved' ELSE '' END AS tx
       |  FROM documents),
       |p AS (SELECT doc_id, list_filter(list_transform(regexp_split_to_array(tx, '\\n{2,}'), x -> trim(x, $trimset)), x -> x <> '') AS ps FROM d),
       |e AS (SELECT doc_id, unnest(generate_series(1, len(ps))) AS para_idx, ps FROM p),
       |k AS (SELECT doc_id, para_idx, md5(trim(regexp_replace(lower(ps[para_idx]), '\\s+', ' ', 'g'))) AS para_hash FROM e)""".stripMargin
  }

  /** The paragraph-dedup oracle CTE chain through the canonical pick. */
  private lazy val paraBaseSql: String = paraKeysSql + ",\n" +
    """c AS (SELECT doc_id, para_idx, para_hash,
      |    FIRST_VALUE(doc_id) OVER w AS canon_doc,
      |    FIRST_VALUE(para_idx) OVER w AS canon_idx
      |  FROM k WINDOW w AS (PARTITION BY para_hash ORDER BY doc_id, para_idx))""".stripMargin

  /** DuckDB n-gram list for [[repetitionOracle]]: all occurrences of the
    * space-joined n-word grams of `ws` (empty below n words). */
  private def gramsSql(n: Int): String =
    s"list_transform(range(1, len(ws) - ${n - 2}), i -> array_to_string(ws[i:i+${n - 1}], ' '))"

  /** Characters of repeated occurrences BEYOND THE FIRST of each element. */
  private def dupBeyondFirstCharsSql(lst: String): String =
    s"coalesce(list_sum(list_transform(list_distinct($lst), e -> " +
      s"CAST((len(list_filter($lst, x -> x = e)) - 1) * length(e) AS BIGINT))), 0)"

  /** Characters across ALL occurrences of duplicated (count >= 2) grams. */
  private def dupAllCharsSql(g: String): String =
    s"coalesce(list_sum(list_transform(list_distinct($g), e -> " +
      s"CASE WHEN len(list_filter($g, x -> x = e)) >= 2 " +
      s"THEN CAST(len(list_filter($g, x -> x = e)) * length(e) AS BIGINT) ELSE 0 END)), 0)"

  private def fracSql(num: String, den: String): String =
    s"ROUND(CASE WHEN $den > 0 THEN $num * 1.0 / $den ELSE 0.0 END, 6)"

  private lazy val repetitionOracle: String = {
    s"""WITH d AS (SELECT doc_id,
       |    regexp_replace(regexp_replace(text,
       |      '((\\S+\\s+){3}\\S+)\\s+', '\\1' || chr(10), 'g'),
       |      '(([^\\n]+\\n){2}[^\\n]+)\\n', '\\1' || chr(10) || chr(10), 'g')
       |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'the quick brown fox' || chr(10) || 'the quick brown fox' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'buy now buy now buy now buy now buy now' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || chr(10) || 'spam spam spam' || chr(10) || chr(10) || 'spam spam spam' ELSE '' END
       |    || CASE WHEN doc_id % 13 = 0 THEN ' one two three four five six seven eight nine ten one two three four five six seven eight nine ten' ELSE '' END AS tx
       |  FROM documents),
       |""".stripMargin + repetitionSignalsSql("d")
  }

  /** The full 21-counter repetition replay over any CTE exposing
    * (doc_id, tx) — CTE chain `t, g, m` plus the final fraction/verdict
    * SELECT (shared by the fixture oracle and composed pipelines). */
  private def repetitionSignalsSql(srcCte: String): String = {
    val trimset = "' ' || chr(9) || chr(10) || chr(13) || chr(12)"
    val gcols = (2 to 10).map(n => s"${gramsSql(n)} AS g$n").mkString(",\n    ")
    val topcols = Seq(2, 3, 4).map { n =>
      s"list_max(list_transform(list_distinct(g$n), e -> len(list_filter(g$n, x -> x = e)))) AS tc$n,\n" +
      s"    list_min(list_filter(list_distinct(g$n), e -> len(list_filter(g$n, x -> x = e)) = tc$n)) AS tg$n,\n" +
      s"    CASE WHEN coalesce(tc$n, 0) >= 2 THEN CAST(tc$n * length(tg$n) AS BIGINT) ELSE 0 END AS top${n}_chars"
    }.mkString(",\n    ")
    val dupcols = (5 to 10).map(n =>
      s"${dupAllCharsSql(s"g$n")} AS dup${n}_chars,\n    " +
      s"coalesce(list_sum(list_transform(g$n, e -> CAST(length(e) AS BIGINT))), 0) AS gram${n}_chars")
      .mkString(",\n    ")
    val topf = Seq(2, 3, 4).map(n =>
      s"${fracSql(s"top${n}_chars", "nc")} AS top${n}_char_frac").mkString(",\n  ")
    val dupf = (5 to 10).map(n =>
      s"${fracSql(s"dup${n}_chars", s"gram${n}_chars")} AS dup${n}_char_frac").mkString(",\n  ")
    val thr = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16,
      5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
    val keep = s"${fracSql("dup_lines", "n_lines")} <= 0.30" +
      s" AND ${fracSql("dup_line_chars", "nc")} <= 0.20" +
      s" AND ${fracSql("dup_paras", "n_paras")} <= 0.30" +
      s" AND ${fracSql("dup_para_chars", "nc")} <= 0.20" +
      Seq(2, 3, 4).map(n => s" AND ${fracSql(s"top${n}_chars", "nc")} <= ${thr(n)}").mkString +
      (5 to 10).map(n => s" AND ${fracSql(s"dup${n}_chars", s"gram${n}_chars")} <= ${thr(n)}").mkString
    s"""t AS (SELECT doc_id, tx, length(tx) AS nc,
       |    list_filter(list_transform(string_split(tx, chr(10)), x -> trim(x, $trimset)), x -> x <> '') AS ls,
       |    list_filter(list_transform(regexp_split_to_array(tx, '\\n{2,}'), x -> trim(x, $trimset)), x -> x <> '') AS ps,
       |    list_filter(regexp_split_to_array(lower(tx), '\\s+'), w -> w <> '') AS ws
       |  FROM $srcCte),
       |g AS (SELECT doc_id, nc, ls, ps,
       |    $gcols
       |  FROM t),
       |m AS (SELECT doc_id, nc,
       |    len(ls) AS n_lines, len(ls) - len(list_distinct(ls)) AS dup_lines,
       |    ${dupBeyondFirstCharsSql("ls")} AS dup_line_chars,
       |    len(ps) AS n_paras, len(ps) - len(list_distinct(ps)) AS dup_paras,
       |    ${dupBeyondFirstCharsSql("ps")} AS dup_para_chars,
       |    $topcols,
       |    $dupcols
       |  FROM g)
       |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, CAST(n_paras AS BIGINT) AS n_paras,
       |  ${fracSql("dup_lines", "n_lines")} AS dup_line_frac,
       |  ${fracSql("dup_line_chars", "nc")} AS dup_line_char_frac,
       |  ${fracSql("dup_paras", "n_paras")} AS dup_para_frac,
       |  ${fracSql("dup_para_chars", "nc")} AS dup_para_char_frac,
       |  $topf,
       |  $dupf,
       |  ($keep) AS keep
       |FROM m""".stripMargin
  }
}
