package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Prebuilt, Tables}
import graft.ops.{Bpe, Calibrate, Chat, Dedup, Dsir, Graph, Multimodal, NgramLm, Pq, Profile, QualityFilter, Rank, Search, SearchIndex, Select, Sketch, Sq, Text, Vectors}
import Catalog.md5Val16Sql

/**
 * LLM training-data pipeline operators (SURVEY.md §7.5) with DuckDB oracles:
 * text analysis, dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash /
 * embedding-cosine), similarity search (brute force + LSH), and the
 * multimodal decode plumbing.
 */
object LlmOps extends QueryGroup {

  /** Fixed 24-token paragraph seeded onto every 25th doc by
    * q_dedup_substring — deterministic cross-document boilerplate for the
    * span detector (all-lowercase single-space, so Spark and DuckDB
    * tokenize it identically). */
  private val SubstringPara: String = Seq(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliett", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray").mkString(" ")

  /** Fixed boilerplate footer line seeded onto every 5th doc by
    * q_text_line_dedup (all-lowercase single-space — both engines
    * normalize it identically). */
  private val BoilerLine: String =
    "subscribe to our newsletter for updates and exclusive offers"

  /** [[Bpe]] tokenization in DuckDB: the marker representation (one `c@`
    * per char, single space between symbols, double space between words,
    * leading space) run through the SAME rank-ordered merge chain as
    * literal `replace` calls — both engines replace left-to-right
    * non-overlapping, so the token stream is bit-identical. */
  private def bpeToksSql(textExpr: String): String = {
    val repr = "' ' || array_to_string(list_transform(" +
      s"regexp_split_to_array(lower($textExpr), '\\s+'), " +
      "w -> rtrim(regexp_replace(w, '(.)', '\\1@ ', 'g'))), '  ')"
    val chain = Bpe.FixedEnglishMerges.pairs.foldLeft(repr) {
      case (e, (a, b)) => s"replace($e, ' $a@ $b@', ' $a$b@')"
    }
    "list_transform(list_filter(string_split(" + chain +
      ", ' '), x -> x <> ''), x -> substr(x, 1, length(x) - 1))"
  }

  /** The 40/8 chunk CTE over BPE tokens (tokensCol semantics: gate on a
    * non-empty token array, not on trimmed text). */
  private def bpeChunkCte: String =
    s"""t0 AS (SELECT doc_id, ${bpeToksSql("text")} AS ts FROM documents),
      |t AS (SELECT doc_id, ts FROM t0 WHERE len(ts) > 0),
      |n AS (SELECT doc_id, ts,
      |  CASE WHEN len(ts) <= 40 THEN 1 ELSE (len(ts) - 40 + 31) // 32 + 1 END AS nc
      |  FROM t),
      |e AS (SELECT doc_id, ts, unnest(range(nc)) AS ci FROM n),
      |ck AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
      |  CAST(len(list_slice(ts, ci*32 + 1, ci*32 + 40)) AS BIGINT) AS n_tokens,
      |  array_to_string(list_slice(ts, ci*32 + 1, ci*32 + 40), ' ') AS chunk_text
      |FROM e)""".stripMargin

  /** CTE chain shared by q_dedup_substring / q_dedup_substring_cut: the
    * paragraph-seeded corpus `t(doc_id, ts)` and the maximal repeated
    * spans `spansq` (the [[Dedup.substringDupSpans]] algorithm: positional
    * 8-shingles, occurrence-capped equi-join, diagonal gaps-and-islands). */
  private def substringSpansCtes: String =
    s"""s AS (SELECT doc_id,
      |    CASE WHEN doc_id % 25 = 0 THEN text || ' $SubstringPara' ELSE text END AS t
      |  FROM documents),
      |t AS (SELECT doc_id, regexp_split_to_array(lower(t), '\\s+') AS ts FROM s),
      |g AS (SELECT doc_id, ts, unnest(generate_series(0, len(ts) - 8)) AS pos
      |  FROM t WHERE len(ts) >= 8),
      |sh AS (SELECT doc_id, pos,
      |    array_to_string(list_slice(ts, pos + 1, pos + 8), ' ') AS shingle FROM g),
      |hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 10000),
      |kp AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
      |m AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    CAST(x.pos AS BIGINT) AS pa, CAST(x.pos - y.pos AS BIGINT) AS diag
      |  FROM kp x JOIN kp y USING(shingle) WHERE x.doc_id < y.doc_id),
      |r AS (SELECT *, pa - ROW_NUMBER() OVER (
      |    PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island FROM m),
      |spansq AS (SELECT doc_a, doc_b, MIN(pa) AS a_start, MIN(pa) - diag AS b_start,
      |    MAX(pa) - MIN(pa) + 8 AS span_tokens
      |  FROM r GROUP BY doc_a, doc_b, diag, island
      |  HAVING MAX(pa) - MIN(pa) + 8 >= 16)""".stripMargin

  /** A zero-padded STRING doc id ('d' + 6 digits) for the string-id query
    * twins: lexicographic order equals the numeric order of the underlying
    * key, so the long-id and string-id variants pack/group identically —
    * what matters is that the OPERATORS never cast it. */
  private val strIdSql = "'d' || lpad(CAST(doc_id AS VARCHAR), 6, '0')"
  private def strIdCol = concat(lit("d"), lpad(col("doc_id").cast("string"), 6, "0"))

  /** Shared oracle CTE: distinct word 3-gram shingles per document, with a
    * pluggable doc-id expression (the string-id twins rebind it). */
  private def shinglesCteWith(idExpr: String) =
    s"""toks AS (SELECT $idExpr AS doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
      |idx AS (SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts)-2, 0))) AS i FROM toks),
      |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM idx),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)""".stripMargin

  private val shinglesCte = shinglesCteWith("doc_id")

  /** Shared oracle CTE: the 40/8 context-window chunk table `ck` (the
    * q_text_chunk arithmetic — integer window formulas over the whitespace
    * token array, blank docs gated exactly like [[Text.chunk]]), with a
    * pluggable doc-id expression. */
  private def chunkCteWith(idExpr: String) =
    s"""t AS (SELECT $idExpr AS doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts
      |  FROM documents WHERE length(trim(text)) > 0),
      |n AS (SELECT doc_id, ts,
      |  CASE WHEN len(ts) <= 40 THEN 1 ELSE (len(ts) - 40 + 31) // 32 + 1 END AS nc
      |  FROM t),
      |e AS (SELECT doc_id, ts, unnest(range(nc)) AS ci FROM n),
      |ck AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
      |  CAST(len(list_slice(ts, ci*32 + 1, ci*32 + 40)) AS BIGINT) AS n_tokens,
      |  array_to_string(list_slice(ts, ci*32 + 1, ci*32 + 40), ' ') AS chunk_text
      |FROM e)""".stripMargin

  private val chunkCte = chunkCteWith("doc_id")

  /** Shared oracle CTE suffix: the greedy pack fold over an ordered chunk
    * relation `o(…, rn)` — the sequential per-key state machine expressed
    * as a recursive CTE (the q_dedup_groups trick): row rn folds onto row
    * rn−1's (pack_idx, cum) state; a chunk that would overflow `maxTokens`
    * opens the next pack. `keyCol` is the fold's partition key (`doc_id`
    * for doc-scoped packing, `bucket` for cross-doc — the latter also
    * carries doc_id through for the n_docs count). */
  private def packFoldCte(keyCol: String, maxTokens: Int): String = {
    val cols = if (keyCol == "doc_id") Seq("doc_id") else Seq(keyCol, "doc_id")
    s"""st AS (
       |  SELECT ${cols.mkString(", ")}, rn, n_tokens, chunk_text,
       |    CAST(0 AS BIGINT) AS pack_idx, n_tokens AS cum
       |  FROM o WHERE rn = 1
       |  UNION ALL
       |  SELECT ${cols.map("c." + _).mkString(", ")}, c.rn, c.n_tokens, c.chunk_text,
       |    CASE WHEN st.cum + c.n_tokens > $maxTokens
       |         THEN st.pack_idx + 1 ELSE st.pack_idx END,
       |    CASE WHEN st.cum + c.n_tokens > $maxTokens
       |         THEN c.n_tokens ELSE st.cum + c.n_tokens END
       |  FROM st JOIN o c ON c.$keyCol = st.$keyCol AND c.rn = st.rn + 1)""".stripMargin
  }

  /** [[Text.docBucket]] in DuckDB. */
  private def docBucketSql(idExpr: String, nBuckets: Int): String =
    s"(${md5Val16Sql(idExpr)} % $nBuckets)"

  /** First 8 hex nibbles of md5(expr) as a BIGINT in [0, 2^32) — the
    * DuckDB twin of Spark's `conv(substring(md5(x),1,8),16,10)` behind
    * [[Text.winnowFingerprints]]. */
  private def md5Val32Sql(expr: String): String = {
    val h = s"md5($expr)"
    (1 to 8).map { i =>
      val pw = 1L << (4 * (8 - i))
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1)*$pw"
    }.mkString("(", " + ", ")")
  }

  /** Shared oracle fragment: double-precision cosine between two DOUBLE[]. */
  private def cosSql(a: String, b: String) =
    s"ROUND(list_inner_product($a,$b) / (sqrt(list_inner_product($a,$a)) * sqrt(list_inner_product($b,$b))), 6)"

  /** [[Vectors.seedAssign]] in DuckDB (shared by the SemDeDup-family
    * oracles): emits `${p}s` (md5-ordered seed pick), `${p}a` (all
    * cosines) and `${p}asg` (max-cosine assignment, ties to the earlier
    * seed) CTE bodies over a source CTE exposing (vec_id, v). */
  private def seedAsgSql(src: String, k: Int, p: String): String =
    s"""${p}s AS (SELECT sid, sv, srank FROM (
       |    SELECT vec_id AS sid, v AS sv,
       |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srank
       |    FROM $src) WHERE srank <= $k),
       |${p}a AS (SELECT t.vec_id, t.v, s.sid, s.srank,
       |    ${cosSql("t.v", "s.sv")} AS cos FROM $src t CROSS JOIN ${p}s s),
       |${p}asg AS (SELECT vec_id, v, sid, cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, srank ASC) AS rn FROM ${p}a) WHERE rn = 1)""".stripMargin

  private val bucketSql = (v: String) =>
    (1 to 8).map(p => s"(CASE WHEN $v[$p] > $v[${p + 32}] THEN ${1L << (p - 1)} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** [[Vectors.binaryCode]] in DuckDB: per-word high-to-low sign-bit fold
    * (exact integer arithmetic, same association as the Spark fold). */
  private def binCodeSql(v: String, nWords: Int = 4, bitsPerWord: Int = 16): String =
    "[" + (0 until nWords).map { w =>
      ((bitsPerWord - 1) to 0 by -1).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
        s"($acc * 2 + (CASE WHEN $v[${w * bitsPerWord + j + 1}] > 0 THEN 1 ELSE 0 END))"
      }
    }.mkString(", ") + "]"

  /** [[Vectors.hammingDist]] in DuckDB: popcount of per-word XOR, summed. */
  private def hammingSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(bit_count(xor(x[1], x[2])) AS BIGINT)))"

  /** [[Multimodal.perceptualHash]]'s 4-word pack fold in DuckDB: bit p of
    * word w is `bl[w*16+p+1] * 64 > sum` (cross-multiplied mean
    * threshold), folded high-to-low exactly like the Scala loop. */
  private def phashWordsSql(bl: String, sm: String): String =
    (0 until 4).map { wd =>
      (15 to 0 by -1).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
        s"($acc * 2 + (CASE WHEN $bl[${wd * 16 + j + 1}] * 64 > $sm THEN 1 ELSE 0 END))"
      }
    }.mkString(", ")

  /** >= 64 ASCII bytes: docs seeded with this prefix share their entire
    * stub-codec luma grid, hence their entire perceptual hash. */
  private val PhashBoiler =
    "phash near-dup boiler prefix padding padding padding padding padding "

  /** Shared oracle for BOTH media-admission forms (aggregation-based and
    * packed stream-static): rebuild every hash, scan new x index pairs. */
  private def phashAdmitOracleSql: String =
    s"""WITH d0 AS (SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 9 THEN '$PhashBoiler' || text ELSE text END AS t
       |  FROM documents),
       |d AS (SELECT doc_id, hex(encode(t)) AS hx,
       |    octet_length(encode(t)) AS len FROM d0),
       |b AS (SELECT doc_id, i,
       |    CASE WHEN i <= len THEN
       |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
       |      + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i AS INT), 1)) - 1)
       |    ELSE 0 END AS bv
       |  FROM d CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
       |s AS (SELECT doc_id, list(bv ORDER BY i) AS bl, sum(bv) AS sm
       |  FROM b GROUP BY doc_id),
       |w AS (SELECT doc_id, [${phashWordsSql("bl", "sm")}] AS pl FROM s),
       |nw AS (SELECT * FROM w WHERE doc_id % 3 = 0),
       |ix AS (SELECT * FROM w WHERE doc_id % 3 <> 0),
       |m AS (SELECT nw.doc_id, ix.doc_id AS ex,
       |    CAST(${hammingSql("nw.pl", "ix.pl")} AS BIGINT) AS ham
       |  FROM nw CROSS JOIN ix),
       |f AS (SELECT doc_id, MIN(ex) AS dup_of, MIN(ham) AS best_ham
       |  FROM m WHERE ham <= 3 GROUP BY 1)
       |SELECT n.doc_id, f.dup_of IS NOT NULL AS is_dup, f.dup_of, f.best_ham
       |FROM nw n LEFT JOIN f USING(doc_id)""".stripMargin

  def queries: Seq[QueryDef] = Seq(

    // --- text analysis ---------------------------------------------------

    QueryDef("q_text_tokens",
      (s, dir) => Text.tokenStats(Tables.load(s, dir, "documents"), "text", "doc_id"),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ts FROM documents)
             |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
             |  ROUND(list_aggregate(list_transform(ts, x -> length(x)), 'sum') * 1.0 / len(ts), 6) AS avg_token_len
             |FROM t""".stripMargin)),

    // Head+tail truncation (the keep-opening-and-conclusion long-doc
    // policy, vs chunking which keeps everything): first 8 + last 4
    // tokens with a spliced marker; pure array slicing on both engines
    QueryDef("q_text_truncate",
      (s, dir) => Text.truncateMiddle(Tables.load(s, dir, "documents"),
        "text", "doc_id", headTokens = 8, tailTokens = 4),
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
             |  FROM documents)
             |SELECT doc_id,
             |  CASE WHEN len(ts) > 12 THEN
             |      array_to_string(array_slice(ts, 1, 8), ' ') || ' ... ' ||
             |      array_to_string(array_slice(ts, len(ts) - 3, len(ts)), ' ')
             |    ELSE array_to_string(ts, ' ') END AS trunc_text,
             |  CAST(len(ts) AS BIGINT) AS n_tokens,
             |  CAST(greatest(len(ts) - 12, 0) AS BIGINT) AS n_dropped,
             |  len(ts) > 12 AS truncated
             |FROM t""".stripMargin)),

    // FlashText-style dictionary tagging: occurrence counts of a phrase
    // dictionary (mixed 1- and 2-word entries) — one positional n-gram
    // stream per distinct phrase length, each equi-joined to the
    // broadcast dictionary; cost never scales with dictionary size
    QueryDef("q_text_keyword_tag",
      (s, dir) => Text.keywordTag(Tables.load(s, dir, "documents"),
        "text", "doc_id",
        Seq("spark", "hash join", "table scan", "slow query")),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ts FROM documents),
             |g1 AS (SELECT doc_id, unnest(ts) AS g FROM t),
             |p2 AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 1)) AS p, ts FROM t WHERE len(ts) >= 2),
             |g2 AS (SELECT doc_id, ts[p] || ' ' || ts[p + 1] AS g FROM p2),
             |kw1(keyword) AS (VALUES ('spark')),
             |kw2(keyword) AS (VALUES ('hash join'), ('table scan'), ('slow query')),
             |m AS (SELECT doc_id, keyword FROM g1 JOIN kw1 ON g = keyword
             |  UNION ALL SELECT doc_id, keyword FROM g2 JOIN kw2 ON g = keyword)
             |SELECT doc_id, keyword, COUNT(*) AS n_hits FROM m GROUP BY 1, 2""".stripMargin)),

    // The row-local small-dictionary form: literals in the plan, zero
    // shuffle, stream-legal — same contract, same oracle as the join form
    QueryDef("q_text_keyword_tag_small",
      (s, dir) => Text.keywordTagSmall(Tables.load(s, dir, "documents"),
        "text", "doc_id",
        Seq("spark", "hash join", "table scan", "slow query")),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ts FROM documents),
             |g1 AS (SELECT doc_id, unnest(ts) AS g FROM t),
             |p2 AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 1)) AS p, ts FROM t WHERE len(ts) >= 2),
             |g2 AS (SELECT doc_id, ts[p] || ' ' || ts[p + 1] AS g FROM p2),
             |kw1(keyword) AS (VALUES ('spark')),
             |kw2(keyword) AS (VALUES ('hash join'), ('table scan'), ('slow query')),
             |m AS (SELECT doc_id, keyword FROM g1 JOIN kw1 ON g = keyword
             |  UNION ALL SELECT doc_id, keyword FROM g2 JOIN kw2 ON g = keyword)
             |SELECT doc_id, keyword, COUNT(*) AS n_hits FROM m GROUP BY 1, 2""".stripMargin)),

    // Context-window chunking (LLM training prep): 40-token windows with
    // 8-token overlap; the windows-per-doc and slice arithmetic are pure
    // integer formulas, reproduced exactly by the DuckDB oracle
    QueryDef("q_text_chunk",
      (s, dir) => Text.chunk(Tables.load(s, dir, "documents"), "text", "doc_id",
        chunkTokens = 40, overlap = 8),
      Some(s"""WITH $chunkCte
              |SELECT doc_id, chunk_idx, n_tokens, chunk_text FROM ck""".stripMargin)),

    // Sentence-boundary chunking: the fixture seeds a period after every
    // ~7th word, sentences pack greedily into <= 16-token chunks. The
    // Spark side folds row-locally over the doc's sentence array; the
    // oracle replays the SAME greedy as the q_text_pack recursive CTE
    // (sentence rows in order, new chunk when the budget overflows).
    // An over-budget sentence becomes its own overflowing chunk.
    QueryDef("q_text_chunk_sentences",
      (s, dir) => Text.chunkSentences(
        Tables.load(s, dir, "documents").withColumn("text",
          regexp_replace(col("text"), "((\\S+\\s+){6}\\S+)\\s+", "$1. ")),
        "text", "doc_id", maxTokens = 16),
      Some(s"""WITH RECURSIVE d AS (SELECT doc_id,
              |    regexp_replace(text, '((\\S+\\s+){6}\\S+)\\s+', '\\1. ', 'g') AS tx FROM documents),
              |sx AS (SELECT doc_id,
              |    list_filter(list_transform(regexp_extract_all(tx, '[^.!?]+[.!?]*'), x -> trim(x)), x -> x <> '') AS ss FROM d),
              |ex AS (SELECT doc_id, unnest(generate_series(1, len(ss))) AS rn, ss FROM sx),
              |o AS (SELECT doc_id, rn,
              |    CAST(len(list_filter(regexp_split_to_array(ss[rn], '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
              |    ss[rn] AS chunk_text FROM ex),
              |${packFoldCte("doc_id", 16)}
              |SELECT doc_id, pack_idx AS chunk_idx,
              |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  string_agg(chunk_text, ' ' ORDER BY rn) AS chunk_text
              |FROM st GROUP BY doc_id, pack_idx""".stripMargin)),

    // Greedy per-doc sequence packing over the chunk table. The fold is
    // sequential per key, but (like q_dedup_groups' min-label propagation)
    // it IS SQL-expressible as a recursive CTE: row rn's (pack_idx, cum)
    // state is a function of row rn-1's — hash-matched end-to-end.
    QueryDef("q_text_pack",
      (s, dir) => Text.packChunks(
        Text.chunk(Tables.load(s, dir, "documents"), "text", "doc_id",
          chunkTokens = 40, overlap = 8),
        "doc_id", maxTokens = 96),
      Some(s"""WITH RECURSIVE $chunkCte,
              |o AS (SELECT ck.*, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS rn FROM ck),
              |${packFoldCte("doc_id", 96)}
              |SELECT doc_id, pack_idx, CAST(COUNT(*) AS BIGINT) AS n_chunks,
              |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  string_agg(chunk_text, ' ' ORDER BY rn) AS pack_text
              |FROM st GROUP BY doc_id, pack_idx""".stripMargin)),

    // Cross-document packing: docs salted into 8 fixed md5 buckets, packed
    // greedily in (doc, chunk) order within each bucket — the fill-ratio
    // variant, still fully deterministic, same recursive-CTE oracle
    QueryDef("q_text_pack_xdoc",
      (s, dir) => Text.packChunksAcrossDocs(
        Text.chunk(Tables.load(s, dir, "documents"), "text", "doc_id",
          chunkTokens = 40, overlap = 8),
        "doc_id", maxTokens = 96, nBuckets = 8),
      Some(s"""WITH RECURSIVE $chunkCte,
              |b AS (SELECT CAST(${docBucketSql("doc_id", 8)} AS BIGINT) AS bucket,
              |  doc_id, chunk_idx, n_tokens, chunk_text FROM ck),
              |o AS (SELECT b.*, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id, chunk_idx) AS rn FROM b),
              |${packFoldCte("bucket", 96)}
              |SELECT bucket, pack_idx, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |  CAST(COUNT(*) AS BIGINT) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  string_agg(chunk_text, ' ' ORDER BY rn) AS pack_text
              |FROM st GROUP BY bucket, pack_idx""".stripMargin)),

    // STRING-ID twin of q_text_pack: the corpus keyed by a string doc id
    // ('d' + zero-padded digits — the UUID/URL shape real corpora use).
    // Exercises the id-generic fold end-to-end: no cast anywhere, the id
    // column stays VARCHAR through chunk -> pack and hash-matches the same
    // recursive-CTE oracle rebound to the string key.
    QueryDef("q_text_pack_strid",
      (s, dir) => Text.packChunks(
        Text.chunk(Tables.load(s, dir, "documents")
            .select(strIdCol.as("doc_id"), col("text")),
          "text", "doc_id", chunkTokens = 40, overlap = 8),
        "doc_id", maxTokens = 96),
      Some(s"""WITH RECURSIVE ${chunkCteWith(strIdSql)},
              |o AS (SELECT ck.*, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS rn FROM ck),
              |${packFoldCte("doc_id", 96)}
              |SELECT doc_id, pack_idx, CAST(COUNT(*) AS BIGINT) AS n_chunks,
              |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  string_agg(chunk_text, ' ' ORDER BY rn) AS pack_text
              |FROM st GROUP BY doc_id, pack_idx""".stripMargin)),

    // STRING-ID twin of q_text_pack_xdoc: md5 bucketing and the in-bucket
    // (doc, chunk) sort both run on the native VARCHAR key (binary
    // lexicographic order — identical in Spark and DuckDB)
    QueryDef("q_text_pack_xdoc_strid",
      (s, dir) => Text.packChunksAcrossDocs(
        Text.chunk(Tables.load(s, dir, "documents")
            .select(strIdCol.as("doc_id"), col("text")),
          "text", "doc_id", chunkTokens = 40, overlap = 8),
        "doc_id", maxTokens = 96, nBuckets = 8),
      Some(s"""WITH RECURSIVE ${chunkCteWith(strIdSql)},
              |b AS (SELECT CAST(${docBucketSql("doc_id", 8)} AS BIGINT) AS bucket,
              |  doc_id, chunk_idx, n_tokens, chunk_text FROM ck),
              |o AS (SELECT b.*, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id, chunk_idx) AS rn FROM b),
              |${packFoldCte("bucket", 96)}
              |SELECT bucket, pack_idx, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |  CAST(COUNT(*) AS BIGINT) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  string_agg(chunk_text, ' ' ORDER BY rn) AS pack_text
              |FROM st GROUP BY bucket, pack_idx""".stripMargin)),

    // BPE subword tokenization (fixed English-bigram merge list — the
    // fitted-merge path is spec-checked; oracles need merges known at
    // query-build time, the planePairs pattern). The sequential replace
    // chain over the marker representation runs as Java String.replace in
    // Spark and SQL replace() in DuckDB — identical left-to-right
    // non-overlap semantics, hence hash-matchable.
    QueryDef("q_text_bpe",
      (s, dir) => Bpe.tokenize(Tables.load(s, dir, "documents"),
          "text", "doc_id", Bpe.FixedEnglishMerges)
        .select(col("doc_id"), col("n_bpe_tokens"), col("bpe_text")),
      Some(s"""WITH b AS (SELECT doc_id, ${bpeToksSql("text")} AS bpe FROM documents)
              |SELECT doc_id, CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
              |  array_to_string(bpe, ' ') AS bpe_text
              |FROM b""".stripMargin)),

    // Context-window chunking driven by the BPE tokenizer (tokensCol):
    // window boundaries and n_tokens follow SUBWORD counts — the verdict's
    // "nothing in-repo produces tokensCol" gap closed end-to-end
    QueryDef("q_text_chunk_bpe",
      (s, dir) => Text.chunk(
        Bpe.tokenize(Tables.load(s, dir, "documents"),
          "text", "doc_id", Bpe.FixedEnglishMerges),
        "bpe_text", "doc_id", chunkTokens = 40, overlap = 8,
        tokensCol = Some("bpe_tokens")),
      Some(s"""WITH $bpeChunkCte
              |SELECT doc_id, chunk_idx, n_tokens, chunk_text FROM ck""".stripMargin)),

    // Greedy packing over BPE chunk counts (tokenCountCol = the subword
    // n_tokens emitted by the BPE-driven chunking): pack budgets respect
    // the actual training token budget
    QueryDef("q_text_pack_bpe",
      (s, dir) => Text.packChunks(
        Text.chunk(
          Bpe.tokenize(Tables.load(s, dir, "documents"),
            "text", "doc_id", Bpe.FixedEnglishMerges),
          "bpe_text", "doc_id", chunkTokens = 40, overlap = 8,
          tokensCol = Some("bpe_tokens")),
        "doc_id", maxTokens = 96),
      Some(s"""WITH RECURSIVE $bpeChunkCte,
              |o AS (SELECT ck.*, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS rn FROM ck),
              |${packFoldCte("doc_id", 96)}
              |SELECT doc_id, pack_idx, CAST(COUNT(*) AS BIGINT) AS n_chunks,
              |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  string_agg(chunk_text, ' ' ORDER BY rn) AS pack_text
              |FROM st GROUP BY doc_id, pack_idx""".stripMargin)),

    // The LLM-prep pipeline composed end-to-end: chunk -> pack ->
    // pack-level exact dedup (keep the (doc, pack)-lexicographic first of
    // each normalized-content group) -> stopword quality filter. One
    // oracle-checked query proving the operators compose without schema or
    // cache surprises. Plan shape: the content hash AND the quality scalar
    // are computed map-side BEFORE the dedup groupBy, so the one exchange
    // carries (16-byte hash, ids, two scalars) — never pack bodies — the
    // same shuffle-hashes-not-documents rule as Dedup.exactGroups. The
    // kept row's stop_ratio equals the oracle's
    // computed-on-the-kept-text value because pack_text is
    // single-space-joined by construction (tokens(raw) == tokens
    // (normalized) modulo the lower() both sides apply).
    QueryDef("q_llm_e2e",
      (s, dir) => {
        val packs = Text.packChunks(
          Text.chunk(Tables.load(s, dir, "documents"), "text", "doc_id",
            chunkTokens = 40, overlap = 8),
          "doc_id", maxTokens = 96)
        val t = Text.tokens(col("pack_text"))
        val stopArr = array(Text.Stopwords.map(lit): _*)
        val scored = packs.select(
          md5(trim(regexp_replace(lower(col("pack_text")), "\\s+", " ")))
            .as("content_hash"),
          col("doc_id"), col("pack_idx"), col("n_tokens"),
          round(size(filter(t, x => array_contains(stopArr, x))).cast("double")
            / size(t), 6).as("stop_ratio"))
        // exact dedup at pack granularity: min(struct) picks the
        // lexicographic-first surviving pack ((doc, pack) is unique)
        scored.groupBy("content_hash")
          .agg(min(struct(col("doc_id"), col("pack_idx"), col("n_tokens"),
            col("stop_ratio"))).as("k"), count(lit(1)).as("n_dups"))
          .select(col("k.doc_id").as("doc_id"), col("k.pack_idx").as("pack_idx"),
            col("content_hash"), col("k.n_tokens").as("n_tokens"),
            col("n_dups"), col("k.stop_ratio").as("stop_ratio"))
          .filter(col("stop_ratio") >= 0.05)
      },
      Some {
        val stoplist = Text.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH RECURSIVE $chunkCte,
           |o AS (SELECT ck.*, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS rn FROM ck),
           |${packFoldCte("doc_id", 96)},
           |pk AS (SELECT doc_id, pack_idx, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           |    string_agg(chunk_text, ' ' ORDER BY rn) AS pack_text
           |  FROM st GROUP BY doc_id, pack_idx),
           |h AS (SELECT pk.*,
           |    md5(trim(regexp_replace(lower(pack_text), '\\s+', ' ', 'g'))) AS content_hash
           |  FROM pk),
           |r AS (SELECT h.*,
           |    ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id, pack_idx) AS rk,
           |    COUNT(*) OVER (PARTITION BY content_hash) AS n_dups
           |  FROM h),
           |k AS (SELECT doc_id, pack_idx, content_hash, n_tokens,
           |    CAST(n_dups AS BIGINT) AS n_dups,
           |    regexp_split_to_array(lower(pack_text), '\\s+') AS pts
           |  FROM r WHERE rk = 1),
           |q AS (SELECT doc_id, pack_idx, content_hash, n_tokens, n_dups,
           |    ROUND(len(list_filter(pts, x -> list_contains($stoplist, x))) * 1.0 / len(pts), 6) AS stop_ratio
           |  FROM k)
           |SELECT doc_id, pack_idx, content_hash, n_tokens, n_dups, stop_ratio
           |FROM q WHERE stop_ratio >= 0.05""".stripMargin
      }),

    // Deterministic md5 train/dev/test split: content-derived membership,
    // stable across runs/engines — hence fully hash-matched (the random G3
    // row splits stay spec-only by nature)
    QueryDef("q_text_hash_split",
      (s, dir) => Text.hashSplit(Tables.load(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "dev" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")),
      Some(s"""WITH h AS (SELECT doc_id, ${md5Val16Sql("doc_id")} AS hv FROM documents)
              |SELECT doc_id,
              |  CASE WHEN hv < 52428 THEN 'train'
              |       WHEN hv < 58982 THEN 'dev'
              |       ELSE 'test' END AS split
              |FROM h""".stripMargin)),

    // Zipf fit over the corpus vocabulary: OLS of ln f on ln rank for the
    // top 1000 terms — natural prose slopes near -1; identical sum
    // formulas on both engines
    QueryDef("q_text_zipf",
      (s, dir) => Text.zipfStats(Tables.load(s, dir, "documents"), "text"),
      Some("""WITH tf AS (SELECT w, COUNT(*) AS f FROM (
             |    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
             |    FROM documents) WHERE w <> '' GROUP BY w),
             |top AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS r FROM tf
             |  QUALIFY r <= 1000),
             |a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |    SUM(ln(CAST(r AS DOUBLE))) AS sx, SUM(ln(CAST(f AS DOUBLE))) AS sy,
             |    SUM(ln(CAST(r AS DOUBLE)) * ln(CAST(f AS DOUBLE))) AS sxy,
             |    SUM(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))) AS sxx
             |  FROM top)
             |SELECT CAST(n AS BIGINT) AS n_terms,
             |  ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS zipf_slope,
             |  ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n, 6)
             |    AS ln_intercept
             |FROM a""".stripMargin)),

    // Heaps-law vocabulary growth at document deciles — flat curves mark
    // templated corpora; first-occurrence min-aggregate, no iterative scan
    QueryDef("q_text_vocab_growth",
      (s, dir) => Text.vocabGrowth(Tables.load(s, dir, "documents"),
        "text", "doc_id"),
      Some("""WITH ex AS (SELECT doc_id, w FROM (
             |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
             |    FROM documents) WHERE w <> ''),
             |dt AS (SELECT doc_id, COUNT(*) AS nt FROM ex GROUP BY 1),
             |bk AS (SELECT doc_id, nt, NTILE(10) OVER (ORDER BY doc_id) AS ck FROM dt),
             |b AS (SELECT ck, COUNT(*) AS n_docs, MAX(doc_id) AS max_doc,
             |    SUM(nt) AS toks FROM bk GROUP BY 1),
             |c AS (SELECT ck, n_docs, max_doc,
             |    SUM(n_docs) OVER (ORDER BY ck) AS cum_docs,
             |    SUM(toks) OVER (ORDER BY ck) AS cum_tokens FROM b),
             |fd AS (SELECT w, MIN(doc_id) AS fd FROM (SELECT DISTINCT doc_id, w FROM ex)
             |  GROUP BY 1),
             |v AS (SELECT ck, COUNT(*) AS vocab FROM fd JOIN c ON fd.fd <= c.max_doc
             |  GROUP BY 1)
             |SELECT CAST(c.ck AS BIGINT) AS checkpoint, c.max_doc,
             |  CAST(cum_docs AS BIGINT) AS cum_docs,
             |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
             |  CAST(vocab AS BIGINT) AS vocab
             |FROM c JOIN v USING(ck)""".stripMargin)),

    // N-gram novelty: share of each doc's shingles unique to it +
    // mean corpus df — the boilerplate/templating diagnostic
    QueryDef("q_text_novelty",
      (s, dir) => Text.noveltyScore(Tables.load(s, dir, "documents"),
        "text", "doc_id"),
      Some(s"""WITH $shinglesCte,
              |dfs AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
              |SELECT sh.doc_id, COUNT(*) AS n_shingles,
              |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
              |  ROUND(AVG(CAST(df AS DOUBLE)), 6) AS mean_df,
              |  ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS novelty
              |FROM sh JOIN dfs USING(shingle) GROUP BY 1""".stripMargin)),

    // Feature-hashed text embedding: signed md5 hashing of tokens into
    // 64 buckets, L2-normalized, emitted sparse — integer arithmetic up
    // to the one final division, so the vector replays in SQL exactly
    QueryDef("q_text_hash_embed",
      (s, dir) => Text.hashEmbedding(Tables.load(s, dir, "documents"),
        "text", "doc_id", dim = 64),
      Some(s"""WITH t AS (SELECT doc_id,
              |    unnest(regexp_split_to_array(lower(text), '\\s+')) AS w FROM documents),
              |tf AS (SELECT doc_id, w FROM t WHERE w <> ''),
              |b AS (SELECT doc_id, ${md5Val16Sql("w || '#b'")} % 64 AS dim_idx,
              |    CASE WHEN ${md5Val16Sql("w || '#s'")} % 2 = 0 THEN 1 ELSE -1 END AS s
              |  FROM tf),
              |r AS (SELECT doc_id, dim_idx, SUM(s) AS raw FROM b GROUP BY 1, 2),
              |n AS (SELECT doc_id, dim_idx, raw,
              |    SUM(raw * raw) OVER (PARTITION BY doc_id) AS ss
              |  FROM r WHERE raw <> 0)
              |SELECT doc_id, CAST(dim_idx AS BIGINT) AS dim_idx,
              |  ROUND(raw / sqrt(ss), 6) AS val
              |FROM n""".stripMargin)),

    // Deterministic weighted source mixing: src0 dropped, src1 quartered,
    // src2 upsampled 2.5x, src3 1.75x, every other source kept at 1.0 —
    // copy counts come from a salted md5, so the mixture replays exactly
    // in DuckDB (weights are exact binary fractions: decimal vs binary
    // threshold arithmetic cannot disagree)
    // Exact per-source quota cap (balanced downsampling), deterministic
    // salted-md5 choice — the cardinality-bound complement of q_text_mix.
    QueryDef("q_quota_sample",
      (s, dir) => Text.quotaSample(Tables.load(s, dir, "documents"),
          Seq("source"), "doc_id", quota = 50)
        .select(col("doc_id"), col("source")),
      Some("""WITH r AS (
             |  SELECT doc_id, source,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '#' || 'quota'),
             |               doc_id) AS qr
             |  FROM documents)
             |SELECT doc_id, source FROM r WHERE qr <= 50""".stripMargin)),

    // Leakage-safe K-fold target encoding: each row's category becomes
    // the smoothed mean label over the OTHER md5-derived folds — the
    // CatBoost-style high-cardinality encoder; 0/1 labels keep every sum
    // integer-exact until the one division
    QueryDef("q_target_encode",
      (s, dir) => graft.prep.Encoding.targetEncode(
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            (col("c_acctbal") > 5000).cast("double").as("label")),
        "c_mktsegment", "label", "c_custkey"),
      Some(s"""WITH b AS (SELECT c_custkey AS id, c_mktsegment AS cat,
              |    CAST(c_acctbal > 5000 AS INT) AS y,
              |    ${md5Val16Sql("CAST(c_custkey AS VARCHAR) || '#tefold'")} % 5 AS f
              |  FROM customer),
              |p AS (SELECT AVG(CAST(y AS DOUBLE)) AS prior FROM b),
              |t AS (SELECT cat, SUM(y) AS ts, COUNT(*) AS tc FROM b GROUP BY 1),
              |pf AS (SELECT cat, f, SUM(y) AS fs, COUNT(*) AS fc FROM b GROUP BY 1, 2)
              |SELECT b.id AS c_custkey, b.cat AS c_mktsegment,
              |  CAST(b.f AS BIGINT) AS fold,
              |  ROUND((t.ts - pf.fs + 10.0 * p.prior) / (t.tc - pf.fc + 10.0), 6) AS te
              |FROM b JOIN t USING(cat) JOIN pf ON pf.cat = b.cat AND pf.f = b.f, p""".stripMargin)),

    // Deterministic weighted sampling without replacement: Gumbel top-k
    // with content-derived uniforms, P(pick) proportional to n_chars —
    // the "subsample by quality score" primitive; keys rounded before
    // the cut, id tiebreak, so the selection is engine-stable
    QueryDef("q_weighted_sample",
      (s, dir) => graft.prep.Sampling.weightedTake(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100),
      Some(s"""WITH h AS (SELECT doc_id, n_chars,
              |    ${md5Val16Sql("CAST(doc_id AS VARCHAR) || '#wtake'")} AS hv
              |  FROM documents),
              |s AS (SELECT doc_id, n_chars,
              |    ROUND(ln(CAST(n_chars AS DOUBLE)) - ln(-ln((hv + 0.5) / 65536.0)), 6) AS sel_key
              |  FROM h)
              |SELECT doc_id, n_chars, sel_key FROM s
              |ORDER BY sel_key DESC, doc_id LIMIT 100""".stripMargin)),

    QueryDef("q_text_mix",
      (s, dir) => Text.mixCorpus(Tables.load(s, dir, "documents"),
        "doc_id", "source",
        Map("src0" -> 0.0, "src1" -> 0.25, "src2" -> 2.5, "src3" -> 1.75))
        .select(col("doc_id"), col("source"), col("copy")),
      Some(s"""WITH w AS (SELECT doc_id, source,
              |    CAST(CASE source WHEN 'src0' THEN 0.0 WHEN 'src1' THEN 0.25
              |      WHEN 'src2' THEN 2.5 WHEN 'src3' THEN 1.75 ELSE 1.0 END AS DOUBLE) AS wt,
              |    ${md5Val16Sql("CAST(doc_id AS VARCHAR) || '#mix'")} AS hv
              |  FROM documents),
              |n AS (SELECT doc_id, source,
              |    CAST(FLOOR(wt) AS BIGINT) +
              |      CASE WHEN hv < CAST(FLOOR((wt - FLOOR(wt)) * 65536) AS BIGINT)
              |           THEN 1 ELSE 0 END AS n
              |  FROM w)
              |SELECT doc_id, source,
              |  CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS copy
              |FROM n WHERE n > 0""".stripMargin)),

    // UniMax waterfill: one training-token budget split across sources
    // under a max-epoch repetition cap — saturation is a prefix property
    // of the ascending-capacity order, so the whole allocation is window
    // expressions over the tiny per-source aggregate, replayed verbatim
    // Temperature-scaled source shares (T5/mT5 alpha-sampling, alpha=0.5):
    // q_s = n_s^alpha / sum n^alpha over per-source token masses — the
    // share-reshaping complement of the UniMax epoch cap below
    QueryDef("q_temperature_mix",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Select.temperatureMix(
          Text.tokenStats(docs, "text", "doc_id")
            .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
          "source", "n_tokens", alpha = 0.5)
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS nt
              |  FROM documents),
              |a AS (SELECT d.source, CAST(SUM(t.nt) AS BIGINT) AS n_tokens
              |  FROM t JOIN documents d USING(doc_id) GROUP BY 1),
              |tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
              |    SUM(POW(CAST(n_tokens AS DOUBLE), 0.5)) AS ptot FROM a)
              |SELECT source, n_tokens,
              |  ROUND(CAST(n_tokens AS DOUBLE) / tot, 6) AS share,
              |  ROUND(POW(CAST(n_tokens AS DOUBLE), 0.5) / ptot, 6) AS q,
              |  ROUND((POW(CAST(n_tokens AS DOUBLE), 0.5) / ptot) /
              |    (CAST(n_tokens AS DOUBLE) / tot), 6) AS boost
              |FROM a CROSS JOIN tt""".stripMargin)),

    // The deterministic order that REALIZES those shares: sort_key =
    // (rank_in_source - 0.5) / q_s round-robins sources at density q, so
    // every training prefix sees the target mixture — salted-md5
    // within-source shuffle, fully engine-replayable
    QueryDef("q_interleave_order",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val rates = Select.temperatureMix(
          Text.tokenStats(docs, "text", "doc_id")
            .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
          "source", "n_tokens", alpha = 0.5)
        Select.interleaveOrder(docs, "source", "doc_id", rates)
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS nt
              |  FROM documents),
              |a AS (SELECT d.source, CAST(SUM(t.nt) AS BIGINT) AS n_tokens
              |  FROM t JOIN documents d USING(doc_id) GROUP BY 1),
              |tt AS (SELECT SUM(POW(CAST(n_tokens AS DOUBLE), 0.5)) AS ptot FROM a),
              |q AS (SELECT source,
              |    ROUND(POW(CAST(n_tokens AS DOUBLE), 0.5) / ptot, 6) AS q
              |  FROM a CROSS JOIN tt),
              |r AS (SELECT doc_id, source, CAST(ROW_NUMBER() OVER (
              |    PARTITION BY source
              |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '#ilv'), doc_id) AS BIGINT) AS rn
              |  FROM documents)
              |SELECT r.doc_id, r.source, r.rn,
              |  ROUND((r.rn - 0.5) / q.q, 6) AS sort_key
              |FROM r JOIN q USING(source)""".stripMargin)),

    QueryDef("q_source_budget",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val stats = Text.tokenStats(docs, "text", "doc_id")
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source")).agg(sum(col("n_tokens")).as("n_tok"))
        Select.waterfillBudgets(stats, "source", "n_tok",
          budget = 100000.0, maxEpochs = 4.0)
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS nt
              |  FROM documents),
              |s AS (SELECT d.source, CAST(SUM(t.nt) AS BIGINT) AS n_tokens
              |  FROM t JOIN documents d USING(doc_id) GROUP BY d.source),
              |c AS (SELECT source, n_tokens, CAST(n_tokens AS DOUBLE) * 4.0 AS cap FROM s),
              |w AS (SELECT source, n_tokens, cap,
              |    ROW_NUMBER() OVER (ORDER BY cap, source) AS idx,
              |    COALESCE(SUM(cap) OVER (ORDER BY cap, source
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
              |    COUNT(*) OVER () AS k
              |  FROM c),
              |f AS (SELECT *, cap * (k - idx + 1) <= 100000.0 - prefix AS saturated FROM w),
              |g AS (SELECT *, SUM(CASE WHEN saturated THEN cap ELSE 0.0 END) OVER () AS fsum,
              |    SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS nsat FROM f),
              |a AS (SELECT *, CASE WHEN saturated THEN cap
              |    ELSE (100000.0 - fsum) / (k - nsat) END AS alloc FROM g)
              |SELECT source, n_tokens, ROUND(cap, 6) AS cap_tokens,
              |  ROUND(alloc, 6) AS alloc_tokens,
              |  ROUND(alloc / n_tokens, 6) AS epochs, saturated
              |FROM a""".stripMargin)),

    // Deterministic multi-epoch shuffle + shard manifest: per-epoch salted
    // md5 ordering, shard = hash16 % nShards — the training-egress
    // ordering, RNG-free and engine-replayable
    QueryDef("q_epoch_shuffle",
      (s, dir) => Text.epochShuffle(Tables.load(s, dir, "documents"),
        "doc_id", epochs = 2, nShards = 8),
      Some(s"""WITH e AS (SELECT doc_id, unnest(generate_series(0, 1)) AS ep FROM documents)
              |SELECT doc_id, CAST(ep AS BIGINT) AS epoch,
              |  CAST(${md5Val16Sql("CAST(ep AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} % 8 AS BIGINT) AS shard,
              |  md5(CAST(ep AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS sort_key
              |FROM e""".stripMargin)),

    // Tokenizer fertility per source: subwords/word + chars/subword from
    // the pure-Catalyst BPE column — the vocabulary-fit diagnostic that
    // gates a source before mixing. The oracle replays the identical
    // replace-chain tokenizer
    QueryDef("q_bpe_fertility",
      (s, dir) => Bpe.fertilityStats(Tables.load(s, dir, "documents"),
        "text", "source", Bpe.FixedEnglishMerges),
      Some(s"""WITH b AS (SELECT source, text, ${bpeToksSql("text")} AS bpe FROM documents),
              |w AS (SELECT source,
              |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS nw,
              |    CAST(length(regexp_replace(lower(text), '\\s+', '', 'g')) AS BIGINT) AS nc,
              |    CAST(len(bpe) AS BIGINT) AS nt
              |  FROM b)
              |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(nw) AS BIGINT) AS n_words,
              |  CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
              |  CAST(SUM(nc) AS BIGINT) AS n_chars,
              |  ROUND(SUM(nt) * 1.0 / SUM(nw), 6) AS fertility,
              |  ROUND(SUM(nc) * 1.0 / SUM(nt), 6) AS chars_per_token
              |FROM w GROUP BY source""".stripMargin)),

    // Corpus snapshot diff: the old snapshot is the full documents table;
    // the "new" snapshot deterministically drops every 7th doc, edits
    // every 5th (suffix append), and adds shifted ids for every 11th —
    // exercising all four statuses
    QueryDef("q_corpus_diff",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
          .unionByName(docs.filter(col("doc_id") % 11 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000))
        Dedup.corpusDiff(docs, newSnap, "text", "doc_id")
      },
      Some("""WITH o AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
             |n0 AS (SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
             |  FROM documents WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
             |n AS (SELECT doc_id, md5(text) AS new_hash FROM n0)
             |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             |  CASE WHEN o.doc_id IS NULL THEN 'added'
             |       WHEN n.doc_id IS NULL THEN 'removed'
             |       WHEN o.old_hash = n.new_hash THEN 'unchanged'
             |       ELSE 'changed' END AS status,
             |  o.old_hash, n.new_hash
             |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin)),

    // Per-source score calibration: percent-rank of n_chars within each
    // source — the per-source-quantile threshold trick (one verbose
    // source can no longer monopolize a global cut)
    QueryDef("q_quality_calibrate",
      (s, dir) => Text.calibrateScores(Tables.load(s, dir, "documents"),
        "n_chars", Seq("source"), "doc_id"),
      Some("""SELECT source, doc_id, n_chars,
             |  ROUND(PERCENT_RANK() OVER (
             |    PARTITION BY source ORDER BY n_chars, doc_id), 6) AS pct_rank
             |FROM documents""".stripMargin)),

    // Isotonic calibration curve (PAV via the minimax characterization —
    // a closed form both engines enumerate identically): score = n_chars
    // decile, label = token gate with deterministic doc_id%11 noise so
    // adjacent-violator pooling actually fires. The FIX next to the
    // ECE/Brier calibration report.
    QueryDef("q_isotonic",
      (s, dir) => Calibrate.isotonicBins(
        Tables.load(s, dir, "documents")
          .withColumn("noisy_label",
            (size(Text.tokens(col("text"))) > 55) =!= (col("doc_id") % 11 === 0)),
        "n_chars", "noisy_label", "doc_id", buckets = 10),
      Some("""WITH x AS (SELECT CAST(NTILE(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS bin,
             |    ((len(regexp_split_to_array(lower(text), '\s+')) > 55)
             |      <> (doc_id % 11 = 0)) AS y
             |  FROM documents),
             |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
             |  FROM x GROUP BY bin),
             |cum AS (SELECT bin, n, pos,
             |    CAST(SUM(n) OVER w AS BIGINT) AS cn,
             |    CAST(SUM(pos) OVER w AS BIGINT) AS cp
             |  FROM g WINDOW w AS (ORDER BY bin
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |segs AS (SELECT a.bin AS a, b.bin AS b,
             |    CAST(b.cp - (a.cp - a.pos) AS DOUBLE) / (b.cn - (a.cn - a.n)) AS seg_avg
             |  FROM cum a JOIN cum b ON a.bin <= b.bin),
             |inner1 AS (SELECT g.bin AS i, s.a, MIN(s.seg_avg) AS m
             |  FROM g JOIN segs s ON s.a <= g.bin AND g.bin <= s.b GROUP BY 1, 2),
             |iso AS (SELECT i, MAX(m) AS iso FROM inner1 GROUP BY i)
             |SELECT g.bin, g.n, g.pos,
             |  ROUND(CAST(g.pos AS DOUBLE) / g.n, 6) AS raw_prob,
             |  ROUND(iso.iso, 6) AS iso_prob
             |FROM g JOIN iso ON iso.i = g.bin""".stripMargin)),

    // Bigram-LM fluency scoring (the CCNet / KenLM-style quality signal):
    // fit counts on the train slice (doc_id % 10 <> 0), stupid-backoff-
    // score EVERY doc; per-doc mean log-prob rounded to 6 dp
    QueryDef("q_text_lm_score",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        NgramLm.fit(docs.filter(col("doc_id") % 10 =!= 0), "text")
          .score(docs, "text", "doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
              |bg AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 1)) AS p, ts FROM t),
              |cb AS (SELECT doc_id, ts[p] AS w1, ts[p+1] AS w2 FROM bg),
              |u AS (SELECT w, COUNT(*) AS c1 FROM (
              |    SELECT unnest(ts) AS w FROM t WHERE doc_id % 10 <> 0) GROUP BY w),
              |nv AS (SELECT SUM(c1) AS n, COUNT(*) AS v FROM u),
              |b AS (SELECT w1, w2, COUNT(*) AS c12 FROM cb
              |  WHERE doc_id % 10 <> 0 GROUP BY w1, w2),
              |sc AS (SELECT cb.doc_id,
              |    CASE WHEN b.c12 IS NOT NULL
              |         THEN ln(CAST(b.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
              |         ELSE ln(CAST(0.4 AS DOUBLE) *
              |           (CAST(COALESCE(u2.c1, 0) + 1 AS DOUBLE) /
              |            CAST(nv.n + nv.v AS DOUBLE))) END AS lp
              |  FROM cb LEFT JOIN b USING(w1, w2)
              |  LEFT JOIN u u1 ON u1.w = cb.w1
              |  LEFT JOIN u u2 ON u2.w = cb.w2, nv)
              |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              |  ROUND(AVG(lp), 6) AS avg_logp
              |FROM sc GROUP BY doc_id""".stripMargin)),

    // Interpolated Kneser-Ney scoring over the same fit slice: absolute
    // discounting + continuation-probability backoff (the KenLM
    // smoothing), all count ratios, so the full score replays in SQL
    QueryDef("q_text_lm_kn",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        NgramLm.fitKneserNey(docs.filter(col("doc_id") % 10 =!= 0), "text")
          .score(docs, "text", "doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
              |bg AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 1)) AS p, ts FROM t),
              |cb AS (SELECT doc_id, ts[p] AS w1, ts[p+1] AS w2 FROM bg),
              |b AS (SELECT w1, w2, COUNT(*) AS c12 FROM cb
              |  WHERE doc_id % 10 <> 0 GROUP BY w1, w2),
              |ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS fan FROM b GROUP BY w1),
              |cont AS (SELECT w2, COUNT(*) AS cont FROM b GROUP BY w2),
              |nb AS (SELECT COUNT(*) AS bt FROM b),
              |vv AS (SELECT COUNT(DISTINCT w) AS v FROM (
              |    SELECT unnest(ts) AS w FROM t WHERE doc_id % 10 <> 0)),
              |sc AS (SELECT cb.doc_id,
              |    CASE WHEN ctx.c1 IS NOT NULL THEN
              |      ln(GREATEST(CAST(COALESCE(b.c12, 0) AS DOUBLE) - 0.75, 0.0)
              |           / CAST(ctx.c1 AS DOUBLE)
              |         + 0.75 * CAST(ctx.fan AS DOUBLE) / CAST(ctx.c1 AS DOUBLE)
              |           * (CAST(COALESCE(cont.cont, 0) + 1 AS DOUBLE)
              |              / CAST(nb.bt + vv.v + 1 AS DOUBLE)))
              |    ELSE ln(CAST(COALESCE(cont.cont, 0) + 1 AS DOUBLE)
              |            / CAST(nb.bt + vv.v + 1 AS DOUBLE)) END AS lp
              |  FROM cb LEFT JOIN b USING(w1, w2)
              |  LEFT JOIN ctx ON ctx.w1 = cb.w1
              |  LEFT JOIN cont ON cont.w2 = cb.w2, nb, vv)
              |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              |  ROUND(AVG(lp), 6) AS avg_logp
              |FROM sc GROUP BY doc_id""".stripMargin)),

    // Token-budget fill: walk docs longest-first (n_chars desc, the cheap
    // quality proxy already in the table) and keep until the running token
    // total passes 15k — the "fill the training budget by priority" step.
    // The Spark side is the distributed prefix scan (range partition +
    // per-partition running totals), the oracle the single-window replay.
    QueryDef("q_text_token_budget",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val stats = Text.tokenStats(docs, "text", "doc_id")
          .select(col("doc_id"), col("n_tokens"))
          .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        Select.tokenBudget(stats, "n_tokens",
            Seq(col("n_chars").desc, col("doc_id")), budget = 15000L)
          .select(col("doc_id"), col("n_tokens"), col("rank"),
            col("cum_tokens"), col("keep"))
      },
      Some(s"""WITH t AS (SELECT doc_id, n_chars,
              |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens
              |  FROM documents),
              |r AS (SELECT doc_id, n_tokens,
              |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk,
              |    SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |  FROM t)
              |SELECT doc_id, n_tokens, CAST(rk AS BIGINT) AS "rank",
              |  CAST(cum AS BIGINT) AS cum_tokens, cum <= 15000 AS keep
              |FROM r""".stripMargin)),

    // CCNet-style perplexity bucketing: terciles of the bigram-LM score
    // (head = most fluent third) via the exact distributed NTILE — same
    // LM fit as q_text_lm_score, bucket labels replayed with NTILE(3)
    QueryDef("q_text_ppl_bucket",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val scored = NgramLm.fit(docs.filter(col("doc_id") % 10 =!= 0), "text")
          .score(docs, "text", "doc_id")
          .select(col("doc_id"), col("avg_logp"))
        Select.ntileBuckets(scored,
            Seq(col("avg_logp").desc, col("doc_id")), buckets = 3)
          .select(col("doc_id"), col("avg_logp"),
            when(col("bucket") === 1, "head")
              .when(col("bucket") === 2, "middle")
              .otherwise("tail").as("ppl_bucket"))
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
              |bg AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 1)) AS p, ts FROM t),
              |cb AS (SELECT doc_id, ts[p] AS w1, ts[p+1] AS w2 FROM bg),
              |u AS (SELECT w, COUNT(*) AS c1 FROM (
              |    SELECT unnest(ts) AS w FROM t WHERE doc_id % 10 <> 0) GROUP BY w),
              |nv AS (SELECT SUM(c1) AS n, COUNT(*) AS v FROM u),
              |b AS (SELECT w1, w2, COUNT(*) AS c12 FROM cb
              |  WHERE doc_id % 10 <> 0 GROUP BY w1, w2),
              |sc AS (SELECT cb.doc_id,
              |    CASE WHEN b.c12 IS NOT NULL
              |         THEN ln(CAST(b.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
              |         ELSE ln(CAST(0.4 AS DOUBLE) *
              |           (CAST(COALESCE(u2.c1, 0) + 1 AS DOUBLE) /
              |            CAST(nv.n + nv.v AS DOUBLE))) END AS lp
              |  FROM cb LEFT JOIN b USING(w1, w2)
              |  LEFT JOIN u u1 ON u1.w = cb.w1
              |  LEFT JOIN u u2 ON u2.w = cb.w2, nv),
              |d AS (SELECT doc_id, ROUND(AVG(lp), 6) AS avg_logp FROM sc GROUP BY doc_id)
              |SELECT doc_id, avg_logp,
              |  CASE NTILE(3) OVER (ORDER BY avg_logp DESC, doc_id)
              |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
              |FROM d""".stripMargin)),

    // Min-K% Prob membership signal (Shi et al. 2024): per doc, the mean
    // log-prob of its 20% least-likely bigrams under the same backoff LM
    // — the memorization/contamination screen next to n-gram overlap
    // decontamination. Per-bigram lp quantizes to integer micro-nats
    // BEFORE ranking on both sides (rank tiebreaks (lpm, w1, w2)), and
    // the tail mean divides one EXACT integer sum — an average of 6-dp
    // doubles flips the 6th decimal on 2/500 sf0.01 docs (measured).
    QueryDef("q_min_k_prob",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        NgramLm.fit(docs.filter(col("doc_id") % 10 =!= 0), "text")
          .minKProb(docs, "text", "doc_id", kFrac = 0.2)
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
              |bg AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 1)) AS p, ts FROM t),
              |cb AS (SELECT doc_id, ts[p] AS w1, ts[p+1] AS w2 FROM bg),
              |u AS (SELECT w, COUNT(*) AS c1 FROM (
              |    SELECT unnest(ts) AS w FROM t WHERE doc_id % 10 <> 0) GROUP BY w),
              |nv AS (SELECT SUM(c1) AS n, COUNT(*) AS v FROM u),
              |b AS (SELECT w1, w2, COUNT(*) AS c12 FROM cb
              |  WHERE doc_id % 10 <> 0 GROUP BY w1, w2),
              |sc AS (SELECT cb.doc_id, cb.w1, cb.w2,
              |    CAST(ROUND(CASE WHEN b.c12 IS NOT NULL
              |         THEN ln(CAST(b.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
              |         ELSE ln(CAST(0.4 AS DOUBLE) *
              |           (CAST(COALESCE(u2.c1, 0) + 1 AS DOUBLE) /
              |            CAST(nv.n + nv.v AS DOUBLE))) END * 1000000.0) AS BIGINT) AS lpm
              |  FROM cb LEFT JOIN b USING(w1, w2)
              |  LEFT JOIN u u1 ON u1.w = cb.w1
              |  LEFT JOIN u u2 ON u2.w = cb.w2, nv),
              |r AS (SELECT doc_id, lpm,
              |    COUNT(*) OVER (PARTITION BY doc_id) AS n,
              |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lpm, w1, w2) AS rk
              |  FROM sc),
              |f AS (SELECT * FROM r WHERE rk <= GREATEST(CAST(ceil(0.2 * n) AS BIGINT), 1))
              |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_bigrams,
              |  CAST(COUNT(*) AS BIGINT) AS n_tail,
              |  ROUND(CAST(SUM(lpm) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS min_k_logp
              |FROM f GROUP BY doc_id""".stripMargin)),

    // C4-style line dedup: every doc becomes two lines (its own text +
    // a boilerplate footer on every 5th doc); the footer and any line
    // shared by >= 2 docs (exact-dup texts) are dropped, docs reassemble
    // from surviving lines, fully-boilerplate docs vanish
    QueryDef("q_text_line_dedup",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\n" + BoilerLine))).otherwise(col("text")))
        Text.dedupLines(seeded, "text", "doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || '$BoilerLine'
              |         ELSE text END AS tx FROM documents),
              |ls AS (SELECT doc_id, string_split(tx, chr(10)) AS la FROM d),
              |l AS (SELECT doc_id, unnest(generate_series(1, len(la))) AS p, la FROM ls),
              |ln AS (SELECT doc_id, p, la[p] AS line FROM l),
              |hot AS (SELECT trim(lower(line)) AS nl FROM ln
              |  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
              |keep AS (SELECT doc_id, p, line FROM ln
              |  WHERE trim(lower(line)) NOT IN (SELECT nl FROM hot))
              |SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
              |  COUNT(*) AS n_lines
              |FROM keep GROUP BY doc_id""".stripMargin)),

    // Intra-document duplicate-line removal (the WITHIN-doc pass
    // RefinedWeb/MassiveText run alongside the cross-doc one): every 4th
    // doc is seeded with the boilerplate line TWICE; the second occurrence
    // (and any natural intra-doc repeats) drop, first stays, order and
    // original line text preserved. Pure array HOFs — no shuffle at all —
    // and both engines resolve "first occurrence" via the same 1-based
    // first-index primitive, so the hash matches.
    QueryDef("q_text_line_dedup_intra",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 4 === 0,
            concat(col("text"),
              lit("\n" + BoilerLine + "\nmore details follow\n" + BoilerLine)))
            .otherwise(col("text")))
        Text.dedupLinesInDoc(seeded, "text", "doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |    CASE WHEN doc_id % 4 = 0 THEN text || chr(10) || '$BoilerLine'
              |      || chr(10) || 'more details follow' || chr(10) || '$BoilerLine'
              |    ELSE text END AS tx FROM documents),
              |ls AS (SELECT doc_id, string_split(tx, chr(10)) AS la FROM d),
              |nm AS (SELECT doc_id, la, list_transform(la, l -> trim(lower(l))) AS na FROM ls),
              |kp AS (SELECT doc_id, la,
              |    list_filter(la, (l, i) -> list_position(na, na[i]) = i) AS ka FROM nm)
              |SELECT doc_id, array_to_string(ka, chr(10)) AS clean_text,
              |  CAST(len(ka) AS BIGINT) AS n_lines,
              |  CAST(len(la) - len(ka) AS BIGINT) AS n_dropped
              |FROM kp""".stripMargin)),

    // DSIR data selection: importance log-ratio between a target LM
    // (fit on the doc_id % 3 = 0 slice) and a raw LM (fit on everything),
    // Gumbel top-k with the salted-md5 uniform — fully deterministic, so
    // the k=100 selected SET replays exactly in DuckDB
    QueryDef("q_dsir_select",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dsir.select(docs, "text", "doc_id",
          target = NgramLm.fit(docs.filter(col("doc_id") % 3 === 0), "text"),
          raw = NgramLm.fit(docs, "text"), k = 100)
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
              |bg AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 1)) AS p, ts FROM t),
              |cb AS (SELECT doc_id, ts[p] AS w1, ts[p+1] AS w2 FROM bg),
              |tu AS (SELECT w, COUNT(*) AS c1 FROM (
              |    SELECT unnest(ts) AS w FROM t WHERE doc_id % 3 = 0) GROUP BY w),
              |tnv AS (SELECT SUM(c1) AS n, COUNT(*) AS v FROM tu),
              |tb AS (SELECT w1, w2, COUNT(*) AS c12 FROM cb
              |  WHERE doc_id % 3 = 0 GROUP BY w1, w2),
              |ru AS (SELECT w, COUNT(*) AS c1 FROM (
              |    SELECT unnest(ts) AS w FROM t) GROUP BY w),
              |rnv AS (SELECT SUM(c1) AS n, COUNT(*) AS v FROM ru),
              |rb AS (SELECT w1, w2, COUNT(*) AS c12 FROM cb GROUP BY w1, w2),
              |sc AS (SELECT cb.doc_id,
              |    CASE WHEN tb.c12 IS NOT NULL
              |         THEN ln(CAST(tb.c12 AS DOUBLE) / CAST(tu1.c1 AS DOUBLE))
              |         ELSE ln(CAST(0.4 AS DOUBLE) *
              |           (CAST(COALESCE(tu2.c1, 0) + 1 AS DOUBLE) /
              |            CAST(tnv.n + tnv.v AS DOUBLE))) END AS lpt,
              |    CASE WHEN rb.c12 IS NOT NULL
              |         THEN ln(CAST(rb.c12 AS DOUBLE) / CAST(ru1.c1 AS DOUBLE))
              |         ELSE ln(CAST(0.4 AS DOUBLE) *
              |           (CAST(COALESCE(ru2.c1, 0) + 1 AS DOUBLE) /
              |            CAST(rnv.n + rnv.v AS DOUBLE))) END AS lpr
              |  FROM cb
              |  LEFT JOIN tb ON tb.w1 = cb.w1 AND tb.w2 = cb.w2
              |  LEFT JOIN tu tu1 ON tu1.w = cb.w1
              |  LEFT JOIN tu tu2 ON tu2.w = cb.w2
              |  LEFT JOIN rb ON rb.w1 = cb.w1 AND rb.w2 = cb.w2
              |  LEFT JOIN ru ru1 ON ru1.w = cb.w1
              |  LEFT JOIN ru ru2 ON ru2.w = cb.w2, tnv, rnv),
              |ag AS (SELECT doc_id, ROUND(AVG(lpt), 6) AS lp_t,
              |    ROUND(AVG(lpr), 6) AS lp_r FROM sc GROUP BY doc_id)
              |SELECT doc_id, ROUND(lp_t - lp_r, 6) AS llr,
              |  ROUND(lp_t - lp_r - ln(-ln(
              |    (${md5Val16Sql("CAST(doc_id AS VARCHAR) || '#dsir'")} + 0.5) / 65536.0)), 6) AS sel_key
              |FROM ag ORDER BY sel_key DESC, doc_id LIMIT 100""".stripMargin)),

    // fastText-style trained quality classifier: hashed word+bigram
    // features -> logistic regression, fit against a deterministic
    // "trusted source" label (source = src2), score every doc. Trained
    // numerics (L-BFGS) -> rows-only check; invariants spec'd in OpsSpec
    QueryDef("q_quality_classifier",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val m = QualityFilter.fit(
          docs.withColumn("label", (col("source") === "src2").cast("int")),
          "text", "label", numFeatures = 1 << 16)
        QualityFilter.score(m, docs, "text", "doc_id")
      },
      None),

    // Benchmark decontamination: corpus docs sharing >= 5 distinct
    // 3-gram shingles with the held-out "benchmark" slice (doc_id % 10 = 0)
    QueryDef("q_decontaminate",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.decontaminate(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "text", "doc_id", n = 3, minOverlap = 5)
      },
      Some(s"""WITH $shinglesCte,
              |c AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
              |b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 10 = 0)
              |SELECT c.doc_id,
              |  CAST(COUNT(DISTINCT c.shingle) AS BIGINT) AS n_shared,
              |  CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS bench_docs
              |FROM c JOIN b USING(shingle)
              |GROUP BY c.doc_id
              |HAVING COUNT(DISTINCT c.shingle) >= 5""".stripMargin)),

    // Contamination FRACTION: the graded counterpart of q_decontaminate —
    // share of each corpus doc's distinct shingles found anywhere in the
    // benchmark slice; every corpus doc with >= 1 shingle is scored
    QueryDef("q_contamination_frac",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.contaminationScore(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "text", "doc_id", n = 3, minFrac = 0.5)
      },
      Some(s"""WITH $shinglesCte,
              |c AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
              |cz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM c GROUP BY doc_id),
              |b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
              |sj AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
              |  FROM c JOIN b USING(shingle) GROUP BY c.doc_id)
              |SELECT cz.doc_id, cz.n_shingles,
              |  COALESCE(sj.n_shared, 0) AS n_shared,
              |  ROUND(COALESCE(sj.n_shared, 0) * 1.0 / cz.n_shingles, 6) AS overlap_frac,
              |  ROUND(COALESCE(sj.n_shared, 0) * 1.0 / cz.n_shingles, 6) >= 0.5 AS flagged
              |FROM cz LEFT JOIN sj USING(doc_id)""".stripMargin)),

    // Luhn-validated card scrub: seeded VALID numbers (bare Visa %3,
    // dash-grouped %5, 15-digit Amex %7) redact; a seeded card-SHAPED
    // but checksum-failing run (%2) survives and is counted rejected —
    // the false-positive control the bare regex scrub lacks. The oracle
    // replays candidate extraction, the Luhn fold, and the literal
    // replace chain with DuckDB list lambdas.
    QueryDef("q_text_scrub_cards",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text2",
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              lit(" pay with 4111111111111111 now")).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              lit(" card 4012-8888-8888-1881 on file")).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              lit(" amex 378282246310005 works")).otherwise(lit("")),
            when(col("doc_id") % 2 === 0,
              lit(" order 1234-5678-9012-3456 shipped")).otherwise(lit(""))))
        Text.scrubCards(seeded, "text2", "doc_id")
      },
      Some {
        val pat = "\\b\\d(?:[ -]?\\d){12,18}\\b"
        s"""WITH s AS (SELECT doc_id, text
           |    || CASE WHEN doc_id % 3 = 0 THEN ' pay with 4111111111111111 now' ELSE '' END
           |    || CASE WHEN doc_id % 5 = 0 THEN ' card 4012-8888-8888-1881 on file' ELSE '' END
           |    || CASE WHEN doc_id % 7 = 0 THEN ' amex 378282246310005 works' ELSE '' END
           |    || CASE WHEN doc_id % 2 = 0 THEN ' order 1234-5678-9012-3456 shipped' ELSE '' END AS t
           |  FROM documents),
           |c AS (SELECT doc_id, t,
           |    list_distinct(regexp_extract_all(t, '$pat')) AS cands FROM s),
           |v AS (SELECT doc_id, t, cands,
           |    list_filter(cands, x ->
           |      list_sum(list_transform(range(1, length(regexp_replace(x, '[^0-9]', '', 'g')) + 1),
           |        i -> CASE WHEN i % 2 = 0
           |          THEN CASE WHEN CAST(substr(reverse(regexp_replace(x, '[^0-9]', '', 'g')), CAST(i AS BIGINT), 1) AS INT) * 2 > 9
           |            THEN CAST(substr(reverse(regexp_replace(x, '[^0-9]', '', 'g')), CAST(i AS BIGINT), 1) AS INT) * 2 - 9
           |            ELSE CAST(substr(reverse(regexp_replace(x, '[^0-9]', '', 'g')), CAST(i AS BIGINT), 1) AS INT) * 2 END
           |          ELSE CAST(substr(reverse(regexp_replace(x, '[^0-9]', '', 'g')), CAST(i AS BIGINT), 1) AS INT) END))
           |      % 10 = 0) AS valid FROM c)
           |SELECT doc_id,
           |  list_reduce(list_prepend(t, valid), (a, b) -> replace(a, b, '<CARD>')) AS clean_text,
           |  CAST(len(valid) AS BIGINT) AS n_cards,
           |  CAST(len(cands) - len(valid) AS BIGINT) AS n_rejected
           |FROM v""".stripMargin
      }),

    // PII scrub with deterministically seeded PII (the synthetic corpus
    // has none), so the masking regexes are exercised cross-engine
    QueryDef("q_text_scrub_pii",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text2",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7")))
        Text.scrubPii(seeded, "text2", "doc_id")
      },
      Some {
        val email = "[A-Za-z0-9._%+-]+@(?:[A-Za-z0-9-]+\\.)+[A-Za-z]{2,}"
        val phone = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
        val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        s"""WITH s AS (SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id AS VARCHAR)
           |      || '@example.com or 555-123-'
           |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
           |  FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'),
           |    '$ip', '<IP>', 'g') AS clean_text,
           |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(
           |    regexp_replace(t, '$email', '<EMAIL>', 'g'), '$phone')) AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(
           |    regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
           |      '$phone', '<PHONE>', 'g'), '$ip')) AS BIGINT) AS n_ips
           |FROM s""".stripMargin
      }),

    QueryDef("q_text_quality",
      (s, dir) => Text.qualityScore(Tables.load(s, dir, "documents"), "text", "doc_id"),
      Some {
        val stoplist = Text.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents)
           |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
           |  ROUND(len(list_filter(ts, x -> list_contains($stoplist, x))) * 1.0 / len(ts), 6) AS stop_ratio,
           |  ROUND(len(list_distinct(ts)) * 1.0 / len(ts), 6) AS distinct_ratio
           |FROM t""".stripMargin
      }),

    // Per-source corpus datasheet (the "data card" table): volume, token
    // mass, quality means, exact-dup rate (same content identity as the
    // dedup family) and language entropy in ONE report — each column is
    // an aggregate the catalog already verifies standalone; every join
    // here is on the |sources|-row key
    QueryDef("q_corpus_datasheet",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(Chat.whitespaceTokenCount(col("text"))).as("total_tokens"),
          round(avg(length(col("text"))), 6).as("mean_chars"))
        val qual = Text.qualityScore(docs, "text", "doc_id")
          .join(docs.select("doc_id", "source"), Seq("doc_id"))
          .groupBy("source").agg(
            round(avg(col("stop_ratio")), 6).as("mean_stop_ratio"),
            round(avg(col("distinct_ratio")), 6).as("mean_distinct_ratio"))
        val hashed = docs.select(col("source"), col("doc_id"),
          md5(Dedup.normText("text")).as("__h"))
        val dup = hashed
          .join(hashed.groupBy("__h").agg(count(lit(1)).as("__df")), Seq("__h"))
          .groupBy("source")
          .agg(round(sum(when(col("__df") > 1, 1.0).otherwise(0.0)) /
            count(lit(1)), 6).as("dup_rate"))
        val lang = Profile.groupEntropy(docs, Seq("source"), "lang")
          .select(col("source"), col("entropy").as("lang_entropy"))
        base.join(qual, Seq("source")).join(dup, Seq("source"))
          .join(lang, Seq("source"))
      },
      Some {
        val stoplist = Text.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, source, lang, text,
           |    regexp_split_to_array(lower(text), '\\s+') AS ts,
           |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
           |  FROM documents),
           |base AS (SELECT source, COUNT(*) AS n_docs,
           |    CAST(SUM(len(list_filter(ts, x -> x <> ''))) AS BIGINT) AS total_tokens,
           |    ROUND(AVG(length(text)), 6) AS mean_chars
           |  FROM t GROUP BY 1),
           |qual AS (SELECT source,
           |    ROUND(AVG(ROUND(len(list_filter(ts, x -> list_contains($stoplist, x))) * 1.0 / len(ts), 6)), 6) AS mean_stop_ratio,
           |    ROUND(AVG(ROUND(len(list_distinct(ts)) * 1.0 / len(ts), 6)), 6) AS mean_distinct_ratio
           |  FROM t GROUP BY 1),
           |hdf AS (SELECT h, COUNT(*) AS df FROM t GROUP BY 1),
           |dup AS (SELECT source,
           |    ROUND(SUM(CASE WHEN df > 1 THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS dup_rate
           |  FROM t JOIN hdf USING(h) GROUP BY 1),
           |lc AS (SELECT source, lang, COUNT(*) AS n FROM t GROUP BY 1, 2),
           |lt AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot FROM lc GROUP BY 1),
           |lang AS (SELECT lc.source,
           |    ROUND(SUM(-(CAST(lc.n AS DOUBLE) / lt.tot) * LN(CAST(lc.n AS DOUBLE) / lt.tot)), 6) AS lang_entropy
           |  FROM lc JOIN lt USING(source) GROUP BY 1)
           |SELECT base.source, base.n_docs, base.total_tokens, base.mean_chars,
           |  qual.mean_stop_ratio, qual.mean_distinct_ratio, dup.dup_rate,
           |  lang.lang_entropy
           |FROM base JOIN qual USING(source) JOIN dup USING(source)
           |JOIN lang USING(source)""".stripMargin
      }),

    // Encoding-hygiene anomaly scan: every 9th doc gains a control char +
    // U+FFFD replacement char, every (other) 4th a 300-char line — the
    // binary-in-text / mojibake / minified-blob detector
    QueryDef("q_text_anomalies",
      (s, dir) => Text.anomalyScan(
        Tables.load(s, dir, "documents").withColumn("text2",
          concat(col("text"),
            when(col("doc_id") % 9 === 0, lit("\u0001x\uFFFD"))
              .when(col("doc_id") % 4 === 0, concat(lit("\n"), lit("z" * 300)))
              .otherwise(lit("")))),
        "text2", "doc_id"),
      Some("""WITH s AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 9 = 0 THEN chr(1) || 'x' || chr(65533)
             |         WHEN doc_id % 4 = 0 THEN chr(10) || repeat('z', 300)
             |         ELSE '' END AS t FROM documents),
             |m AS (SELECT doc_id, t,
             |    CAST(len(regexp_extract_all(t, '\x{fffd}')) AS BIGINT) AS n_replacement,
             |    CAST(len(regexp_extract_all(t, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_control,
             |    CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
             |    CAST(list_max(list_transform(string_split(t, chr(10)), l -> length(l))) AS BIGINT) AS max_line_len
             |  FROM s)
             |SELECT doc_id, n_replacement, n_control, n_lines, max_line_len,
             |  (n_replacement > 0 OR n_control > 0) AS flagged
             |FROM m""".stripMargin)),

    // Gopher rule-based quality filter: seed bullet lines on every 7th doc,
    // an ellipsis-ended line on every (other) 5th, a symbol burst on every
    // (other) 11th, then apply Rae et al.'s rules with bounds tuned so the
    // corpus lands on both sides of every rule (word bounds 30..80 straddle
    // the 10..99-word docs; the stopword list is drawn from the corpus
    // vocabulary)
    QueryDef("q_text_gopher",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit("\n- first point\n- second point")))
          .when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\nto be continued ...")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" #### ####")))
          .otherwise(col("text")))
        Text.gopherRules(seeded, "text", "doc_id", minWords = 30, maxWords = 80,
          stopwords = Seq("the", "a", "data", "table", "row", "value"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |    CASE WHEN doc_id % 7 = 0 THEN text || chr(10) || '- first point' || chr(10) || '- second point'
              |         WHEN doc_id % 5 = 0 THEN text || chr(10) || 'to be continued ...'
              |         WHEN doc_id % 11 = 0 THEN text || ' #### ####'
              |         ELSE text END AS tx FROM documents),
              |t AS (SELECT doc_id, tx,
              |    regexp_split_to_array(lower(tx), '\\s+') AS ts,
              |    string_split(tx, chr(10)) AS ls FROM d),
              |m AS (SELECT doc_id,
              |    CASE WHEN len(trim(tx)) > 0 THEN len(ts) ELSE 0 END AS n_words,
              |    length(regexp_replace(lower(tx), '\\s+', '', 'g')) AS n_chr,
              |    len(regexp_extract_all(tx, '#')) + len(regexp_extract_all(tx, '\\.\\.\\.')) AS n_sym,
              |    len(ls) AS n_lines,
              |    len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
              |    len(list_filter(ls, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS n_ell,
              |    len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
              |    len(list_intersect(list_distinct(ts),
              |        ['the', 'a', 'data', 'table', 'row', 'value'])) AS n_stop
              |  FROM t),
              |r AS (SELECT doc_id, n_words, n_stop,
              |    ROUND(CASE WHEN n_words > 0 THEN n_chr * 1.0 / n_words ELSE 0.0 END, 6) AS mean_word_len,
              |    ROUND(CASE WHEN n_words > 0 THEN n_sym * 1.0 / n_words ELSE 0.0 END, 6) AS symbol_ratio,
              |    ROUND(n_bullet * 1.0 / n_lines, 6) AS bullet_ratio,
              |    ROUND(n_ell * 1.0 / n_lines, 6) AS ellipsis_ratio,
              |    ROUND(CASE WHEN n_words > 0 THEN n_alpha * 1.0 / n_words ELSE 0.0 END, 6) AS alpha_ratio
              |  FROM m)
              |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
              |  symbol_ratio, bullet_ratio, ellipsis_ratio, alpha_ratio,
              |  CAST(n_stop AS BIGINT) AS n_stop,
              |  (n_words >= 30 AND n_words <= 80
              |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
              |   AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
              |   AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
              |   AND n_stop >= 2) AS keep
              |FROM r""".stripMargin)),

    // Filter-funnel attrition over the same seeded gopher fixture: per
    // rule (fixed order) — docs passing it alone, docs it kills given
    // survival of prior rules, docs surviving through it. One aggregate
    // row exploded into the report; all-integer counts, exact oracle.
    QueryDef("q_text_gopher_attrition",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit("\n- first point\n- second point")))
          .when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\nto be continued ...")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" #### ####")))
          .otherwise(col("text")))
        Text.gopherAttrition(seeded, "text", "doc_id", minWords = 30, maxWords = 80,
          stopwords = Seq("the", "a", "data", "table", "row", "value"))
      },
      Some {
        val preds = Seq(
          "word_count" -> "(n_words >= 30 AND n_words <= 80)",
          "mean_word_len" -> "(mean_word_len >= 3.0 AND mean_word_len <= 10.0)",
          "symbol_ratio" -> "(symbol_ratio <= 0.1)",
          "bullet_ratio" -> "(bullet_ratio <= 0.9)",
          "ellipsis_ratio" -> "(ellipsis_ratio <= 0.3)",
          "alpha_ratio" -> "(alpha_ratio >= 0.8)",
          "stopwords" -> "(n_stop >= 2)")
        val cumExprs = preds.indices.map(i =>
          preds.take(i + 1).map(_._2).mkString(" AND "))
        val aggCols = preds.zipWithIndex.map { case ((_, p), i) =>
          val prior = if (i == 0) "TRUE" else cumExprs(i - 1)
          s"CAST(SUM(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS pa$i, " +
            s"CAST(SUM(CASE WHEN ($prior) AND NOT $p THEN 1 ELSE 0 END) AS BIGINT) AS k$i, " +
            s"CAST(SUM(CASE WHEN ${cumExprs(i)} THEN 1 ELSE 0 END) AS BIGINT) AS s$i"
        }.mkString(",\n")
        val unions = preds.zipWithIndex.map { case ((name, _), i) =>
          s"SELECT CAST(${i + 1} AS BIGINT) AS rule_idx, '$name' AS rule, n_docs, " +
            s"pa$i AS n_pass_alone, k$i AS n_killed, s$i AS n_surviving FROM agg"
        }.mkString("\nUNION ALL\n")
        s"""WITH d AS (SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN text || chr(10) || '- first point' || chr(10) || '- second point'
           |         WHEN doc_id % 5 = 0 THEN text || chr(10) || 'to be continued ...'
           |         WHEN doc_id % 11 = 0 THEN text || ' #### ####'
           |         ELSE text END AS tx FROM documents),
           |t AS (SELECT doc_id, tx,
           |    regexp_split_to_array(lower(tx), '\\s+') AS ts,
           |    string_split(tx, chr(10)) AS ls FROM d),
           |m AS (SELECT doc_id,
           |    CASE WHEN len(trim(tx)) > 0 THEN len(ts) ELSE 0 END AS n_words,
           |    length(regexp_replace(lower(tx), '\\s+', '', 'g')) AS n_chr,
           |    len(regexp_extract_all(tx, '#')) + len(regexp_extract_all(tx, '\\.\\.\\.')) AS n_sym,
           |    len(ls) AS n_lines,
           |    len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
           |    len(list_filter(ls, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS n_ell,
           |    len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
           |    len(list_intersect(list_distinct(ts),
           |        ['the', 'a', 'data', 'table', 'row', 'value'])) AS n_stop
           |  FROM t),
           |r AS (SELECT doc_id, n_words, n_stop,
           |    ROUND(CASE WHEN n_words > 0 THEN n_chr * 1.0 / n_words ELSE 0.0 END, 6) AS mean_word_len,
           |    ROUND(CASE WHEN n_words > 0 THEN n_sym * 1.0 / n_words ELSE 0.0 END, 6) AS symbol_ratio,
           |    ROUND(n_bullet * 1.0 / n_lines, 6) AS bullet_ratio,
           |    ROUND(n_ell * 1.0 / n_lines, 6) AS ellipsis_ratio,
           |    ROUND(CASE WHEN n_words > 0 THEN n_alpha * 1.0 / n_words ELSE 0.0 END, 6) AS alpha_ratio
           |  FROM m),
           |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |$aggCols
           |FROM r)
           |$unions""".stripMargin
      }),

    QueryDef("q_text_langid",
      (s, dir) => Text.languageId(Tables.load(s, dir, "documents"), "text", "doc_id"),
      Some {
        val en = Text.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        val es = Seq("el", "la", "de", "y", "que", "en").map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
           |sc AS (SELECT doc_id,
           |  ROUND(len(list_filter(ts, x -> list_contains($en, x))) * 1.0 / len(ts), 6) AS s_en,
           |  ROUND(len(list_filter(ts, x -> list_contains($es, x))) * 1.0 / len(ts), 6) AS s_es
           |FROM t)
           |SELECT doc_id,
           |  CASE WHEN greatest(s_en, s_es) >= 0.05
           |       THEN (CASE WHEN s_es > s_en THEN 'es' ELSE 'en' END)
           |       ELSE 'und' END AS lang_guess,
           |  greatest(s_en, s_es) AS lang_score
           |FROM sc""".stripMargin
      }),

    QueryDef("q_text_fingerprint",
      (s, dir) => Text.fingerprint(Tables.load(s, dir, "documents"), "text", "doc_id"),
      Some("""SELECT doc_id,
             |  md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(text), '\s+'))), ' ')) AS fp
             |FROM documents""".stripMargin)),

    // FIM (Bavarian et al. 2022): hash-gated PSM reorder with md5-derived
    // cut points — the oracle replays gate, cuts, and the exact splice.
    QueryDef("q_text_fim",
      (s, dir) => Text.fimTransform(Tables.load(s, dir, "documents"),
        "text", "doc_id", rate = 0.5),
      Some(s"""WITH t AS (SELECT doc_id,
              |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ts
              |  FROM documents),
              |n AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n,
              |    ${md5Val16Sql("doc_id || ':fim'")} AS hf,
              |    ${md5Val16Sql("doc_id || ':a'")} AS ha,
              |    ${md5Val16Sql("doc_id || ':b'")} AS hb FROM t),
              |c AS (SELECT doc_id, ts, n, (hf < 32768 AND n >= 3) AS ap,
              |    1 + (ha * (n - 1)) // 65536 AS c1,
              |    1 + (hb * (n - 1)) // 65536 AS c2 FROM n),
              |s AS (SELECT doc_id, ts, n, ap,
              |    LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi FROM c)
              |SELECT doc_id,
              |  CASE WHEN ap THEN array_to_string(
              |    ['<PRE>'] || list_slice(ts, 1, lo) || ['<SUF>'] ||
              |    list_slice(ts, hi + 1, n) || ['<MID>'] ||
              |    list_slice(ts, lo + 1, hi), ' ')
              |  ELSE array_to_string(ts, ' ') END AS fim_text,
              |  ap AS fim_applied,
              |  CASE WHEN ap THEN lo ELSE n END AS n_prefix,
              |  CASE WHEN ap THEN hi - lo ELSE 0 END AS n_middle,
              |  CASE WHEN ap THEN n - hi ELSE 0 END AS n_suffix
              |FROM s""".stripMargin)),

    // T5 span corruption: hash-derived masked spans (one spanLen-token
    // span per blockLen-token block) -> (input with sentinels, target).
    // The oracle replays block offsets, hole splicing, and target order.
    QueryDef("q_text_span_corrupt",
      (s, dir) => Text.spanCorrupt(Tables.load(s, dir, "documents"),
        "text", "doc_id", density = 0.15, spanLen = 3),
      Some(s"""WITH t AS (SELECT doc_id,
              |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ts
              |  FROM documents),
              |n AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n,
              |    CAST(len(ts) AS BIGINT) // 20 AS nb FROM t),
              |b AS (SELECT doc_id, ts, n, nb,
              |    unnest(generate_series(0, nb - 1)) AS bi FROM n WHERE nb >= 1),
              |o AS (SELECT doc_id, ts, nb, bi,
              |    1 + bi*20 + (${md5Val16Sql("doc_id || ':' || bi")} % 18) AS st FROM b),
              |parts AS (SELECT doc_id, bi,
              |    list_slice(ts, bi*20 + 1, st - 1) || ['<extra_id_' || bi || '>'] ||
              |      list_slice(ts, st + 3, (bi+1)*20) AS inp,
              |    ['<extra_id_' || bi || '>'] || list_slice(ts, st, st + 2) AS tgt
              |  FROM o),
              |agg AS (SELECT doc_id, flatten(list(inp ORDER BY bi)) AS inps,
              |    flatten(list(tgt ORDER BY bi)) AS tgts FROM parts GROUP BY doc_id)
              |SELECT n.doc_id,
              |  CASE WHEN nb >= 1
              |    THEN array_to_string(inps || list_slice(ts, nb*20 + 1, n), ' ')
              |    ELSE array_to_string(ts, ' ') END AS input_text,
              |  CASE WHEN nb >= 1 THEN array_to_string(tgts, ' ') ELSE '' END AS target_text,
              |  n AS n_tokens, nb * 3 AS n_masked, nb AS n_spans
              |FROM n LEFT JOIN agg ON agg.doc_id = n.doc_id""".stripMargin)),

    // Winnowing (Schleimer et al. 2003): rightmost-window-min fingerprint
    // selection over k-gram md5 hashes. The oracle replays grams, the
    // 8-nibble hash, the shrunken-window rule, and the rightmost-min pick.
    QueryDef("q_text_winnow",
      (s, dir) => Text.winnowFingerprints(Tables.load(s, dir, "documents"),
        "text", "doc_id", k = 4, w = 4),
      Some(s"""WITH d AS (SELECT doc_id,
              |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ts
              |  FROM documents),
              |dg AS (SELECT doc_id, ts, len(ts) - 3 AS g FROM d WHERE len(ts) >= 4),
              |gp AS (SELECT doc_id, ts, g, unnest(generate_series(1, g)) AS i FROM dg),
              |hvt AS (SELECT doc_id, g, i,
              |    ${md5Val32Sql("array_to_string(list_slice(ts, i, i + 3), ' ')")} AS h
              |  FROM gp),
              |hl AS (SELECT doc_id, ANY_VALUE(g) AS g, LEAST(4, ANY_VALUE(g)) AS we,
              |    list(h ORDER BY i) AS hs
              |  FROM hvt GROUP BY doc_id),
              |pp AS (SELECT doc_id, hs, we, unnest(generate_series(1, g - we + 1)) AS p FROM hl),
              |wv AS (SELECT doc_id, p, we, list_slice(hs, p, p + we - 1) AS win FROM pp)
              |SELECT DISTINCT doc_id,
              |  CAST(p + we - list_position(list_reverse(win), list_min(win)) AS BIGINT) AS pos,
              |  list_min(win) AS fp
              |FROM wv""".stripMargin)),

    // Winnowing overlap pairs: equi-join on shared fingerprint values
    // with a hot-fp cap, shared counts and containment over the retained
    // sets — the MOSS candidate stage, fully replayed by the oracle.
    QueryDef("q_winnow_overlap",
      (s, dir) => Dedup.winnowOverlapPairs(Tables.load(s, dir, "documents"),
        "text", "doc_id", k = 4, w = 4, minShared = 2, maxDf = 1000),
      Some(s"""WITH d AS (SELECT doc_id,
              |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ts
              |  FROM documents),
              |dg AS (SELECT doc_id, ts, len(ts) - 3 AS g FROM d WHERE len(ts) >= 4),
              |gp AS (SELECT doc_id, ts, g, unnest(generate_series(1, g)) AS i FROM dg),
              |hvt AS (SELECT doc_id, g, i,
              |    ${md5Val32Sql("array_to_string(list_slice(ts, i, i + 3), ' ')")} AS h
              |  FROM gp),
              |hl AS (SELECT doc_id, ANY_VALUE(g) AS g, LEAST(4, ANY_VALUE(g)) AS we,
              |    list(h ORDER BY i) AS hs
              |  FROM hvt GROUP BY doc_id),
              |pp AS (SELECT doc_id, hs, we, unnest(generate_series(1, g - we + 1)) AS p FROM hl),
              |wv AS (SELECT doc_id, p, we, list_slice(hs, p, p + we - 1) AS win FROM pp),
              |fp AS (SELECT DISTINCT doc_id, list_min(win) AS fp FROM wv),
              |hot AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) > 1000),
              |cool AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM hot)),
              |sz AS (SELECT doc_id, COUNT(*) AS nfp FROM cool GROUP BY doc_id),
              |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fp
              |  FROM cool a JOIN cool b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
              |SELECT pr.doc_a, pr.doc_b, pr.shared_fp,
              |  ROUND(pr.shared_fp / CAST(LEAST(sa.nfp, sb.nfp) AS DOUBLE), 6) AS containment
              |FROM pr JOIN sz sa ON sa.doc_id = pr.doc_a
              |  JOIN sz sb ON sb.doc_id = pr.doc_b""".stripMargin)),

    QueryDef("q_text_simhash",
      (s, dir) => Text.simhash16(Tables.load(s, dir, "documents"), "text", "doc_id"),
      Some {
        val votes = (0 until 16).map { j =>
          val nib = s"nib${j / 4 + 1}"
          s"SUM(CASE WHEN ($nib >> ${3 - j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v_$j"
        }.mkString(",\n  ")
        val sig = (0 until 16)
          .map(j => s"(CASE WHEN v_$j > 0 THEN ${1L << (15 - j)} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok FROM documents),
           |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
           |n AS (SELECT doc_id,
           |  strpos('0123456789abcdef', substr(h,1,1)) - 1 AS nib1,
           |  strpos('0123456789abcdef', substr(h,2,1)) - 1 AS nib2,
           |  strpos('0123456789abcdef', substr(h,3,1)) - 1 AS nib3,
           |  strpos('0123456789abcdef', substr(h,4,1)) - 1 AS nib4
           |FROM h),
           |v AS (SELECT doc_id, $votes FROM n GROUP BY doc_id)
           |SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM v""".stripMargin
      }),

    // --- dedup -----------------------------------------------------------

    // SimHash near-dup pairs: nibble-banded Hamming search over the
    // 16-bit signatures (pigeonhole-exact for maxDist < 4) — the oracle
    // recomputes every signature and scans all pairs; the blocked
    // equi-join must equal it exactly
    QueryDef("q_dedup_simhash",
      (s, dir) => Dedup.simhashNearDup(Tables.load(s, dir, "documents"),
        "text", "doc_id", maxDist = 1),
      Some {
        val votes = (0 until 16).map { j =>
          val nib = s"nib${j / 4 + 1}"
          s"SUM(CASE WHEN ($nib >> ${3 - j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v_$j"
        }.mkString(",\n  ")
        val sig = (0 until 16)
          .map(j => s"(CASE WHEN v_$j > 0 THEN ${1L << (15 - j)} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok FROM documents),
           |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
           |n AS (SELECT doc_id,
           |  strpos('0123456789abcdef', substr(h,1,1)) - 1 AS nib1,
           |  strpos('0123456789abcdef', substr(h,2,1)) - 1 AS nib2,
           |  strpos('0123456789abcdef', substr(h,3,1)) - 1 AS nib3,
           |  strpos('0123456789abcdef', substr(h,4,1)) - 1 AS nib4
           |FROM h),
           |v AS (SELECT doc_id, $votes FROM n GROUP BY doc_id),
           |s AS (SELECT doc_id, CAST($sig AS BIGINT) AS sh FROM v),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS ham
           |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, ham FROM p WHERE ham <= 1""".stripMargin
      }),

    // 64-bit SimHash near-dup pairs: 2^16-bucket bands (corpus-size-
    // independent candidates, unlike the 16-bit variant), pigeonhole
    // exactness unchanged; oracle rebuilds all 64 vote sums + the word
    // pack and scans all pairs
    QueryDef("q_dedup_simhash64",
      (s, dir) => Dedup.simhashNearDup64(Tables.load(s, dir, "documents"),
        "text", "doc_id", maxDist = 3),
      Some {
        val votes = (0 until 64).map { g =>
          val nib = s"nib${g / 4 + 1}"
          s"SUM(CASE WHEN ($nib >> ${3 - g % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v_$g"
        }.mkString(",\n  ")
        val words = (0 until 4).map { w =>
          (15 to 0 by -1).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
            s"($acc * 2 + (CASE WHEN v_${w * 16 + j} > 0 THEN 1 ELSE 0 END))"
          }
        }.mkString(", ")
        val nibs = (1 to 16).map(k =>
          s"strpos('0123456789abcdef', substr(h,$k,1)) - 1 AS nib$k").mkString(",\n  ")
        s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok FROM documents),
           |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
           |n AS (SELECT doc_id,
           |  $nibs
           |FROM h),
           |v AS (SELECT doc_id, $votes FROM n GROUP BY doc_id),
           |w AS (SELECT doc_id, [$words] AS pl FROM v),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(${hammingSql("a.pl", "b.pl")} AS BIGINT) AS ham
           |  FROM w a JOIN w b ON a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, ham FROM p WHERE ham <= 3""".stripMargin
      }),

    QueryDef("q_dedup_exact",
      (s, dir) => Dedup.exactGroups(Tables.load(s, dir, "documents"), "text", "doc_id"),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
             |  MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
             |FROM documents GROUP BY 1""".stripMargin)),

    // Corpus health report: per-source duplication rate from the exact
    // dedup groups (what a 100 TB ingest dashboards after every drop).
    QueryDef("q_dedup_stats",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val hashed = d.select(col("source"),
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
            .as("content_hash"))
        hashed.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("content_hash")).as("n_unique"),
          round(lit(1.0) - count_distinct(col("content_hash"))
            / count(lit(1)).cast("double"), 6).as("dup_rate"))
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_unique,
             |  ROUND(CAST(1.0 AS DOUBLE) - COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
             |FROM documents GROUP BY source""".stripMargin)),

    // Incremental ingest dedup: a new batch admits only unseen content,
    // checked against the EXISTING corpus's 16-byte hash index (the
    // corpus itself is never re-read); intra-batch dups resolve to the
    // min-id canonical first.
    QueryDef("q_dedup_incremental",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val batch = d.filter(col("doc_id") >= 300)
          .select(col("doc_id"), col("text"), col("source"))
        Dedup.dedupIncremental(batch, "text", "doc_id",
            Dedup.hashIndex(d.filter(col("doc_id") < 300), "text"))
          .select(col("doc_id"), col("source"))
      },
      Some("""WITH nrm AS (
             |  SELECT doc_id, source,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
             |  FROM documents),
             |ex AS (SELECT DISTINCT h FROM nrm WHERE doc_id < 300),
             |batch AS (SELECT * FROM nrm WHERE doc_id >= 300),
             |canon AS (
             |  SELECT doc_id, source, h FROM (
             |    SELECT doc_id, source, h,
             |      MIN(doc_id) OVER (PARTITION BY h) AS mk FROM batch)
             |  WHERE doc_id = mk)
             |SELECT doc_id, source FROM canon
             |WHERE h NOT IN (SELECT h FROM ex)""".stripMargin)),

    // Same contract as q_dedup_incremental — the Bloom prefilter is a pure
    // physical optimization, so the oracle is the SAME exact-dedup replay
    // (false positives are exact-verified, false negatives impossible).
    QueryDef("q_dedup_incremental_bloom",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val batch = d.filter(col("doc_id") >= 300)
          .select(col("doc_id"), col("text"), col("source"))
        Dedup.dedupIncrementalBloom(batch, "text", "doc_id",
            Dedup.hashIndex(d.filter(col("doc_id") < 300), "text"),
            fpp = 0.05)
          .select(col("doc_id"), col("source"))
      },
      Some("""WITH nrm AS (
             |  SELECT doc_id, source,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
             |  FROM documents),
             |ex AS (SELECT DISTINCT h FROM nrm WHERE doc_id < 300),
             |batch AS (SELECT * FROM nrm WHERE doc_id >= 300),
             |canon AS (
             |  SELECT doc_id, source, h FROM (
             |    SELECT doc_id, source, h,
             |      MIN(doc_id) OVER (PARTITION BY h) AS mk FROM batch)
             |  WHERE doc_id = mk)
             |SELECT doc_id, source FROM canon
             |WHERE h NOT IN (SELECT h FROM ex)""".stripMargin)),

    QueryDef("q_dedup_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
        "text", "doc_id", n = 3, tau = 0.4),
      Some(s"""WITH $shinglesCte,
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |j AS (SELECT doc_a, doc_b,
              |    ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
              |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
              |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.4""".stripMargin)),

    // Eval-set decontamination (the 13-gram rule at fixture scale n=8):
    // every 50th doc doubles as a benchmark probe; the scan reports each
    // (corpus doc, probe) pair sharing >= 1 distinct 8-gram — probes
    // self-match and the corpus's planted near-dups cross-match. Probe
    // side broadcasts; the corpus never shuffles.
    QueryDef("q_decontam",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.probeContamination(docs, "text", "doc_id",
          docs.filter(col("doc_id") % 50 === 0)
            .select(col("doc_id").as("probe_id"), col("text")),
          "text", "probe_id", n = 8, minShared = 1)
      },
      Some("""WITH ct AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ts FROM documents),
             |ci AS (SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts)-7, 0))) AS i FROM ct),
             |cg AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+7], ' ') AS g FROM ci),
             |pg AS (SELECT DISTINCT doc_id AS probe_id, g FROM (
             |  SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS g FROM ci WHERE doc_id % 50 = 0))
             |SELECT doc_id, probe_id, CAST(COUNT(*) AS BIGINT) AS shared_ngrams
             |FROM cg JOIN pg USING (g) GROUP BY 1, 2 HAVING COUNT(*) >= 1""".stripMargin)),

    // Asymmetric shingle containment |A∩B|/|A| >= 0.5 — the excerpt/
    // quote-farm detector symmetric Jaccard misses (a short doc inside a
    // long one). Ordered pairs; doc_a is the contained side.
    QueryDef("q_dedup_containment",
      (s, dir) => Dedup.containmentPairs(Tables.load(s, dir, "documents"),
        "text", "doc_id", n = 3, tau = 0.5),
      Some(s"""WITH $shinglesCte,
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |sc AS (SELECT doc_a, doc_b, i, sa.sz AS sz_a, sb.sz AS sz_b
              |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
              |dir2 AS (
              |  SELECT doc_a, doc_b, ROUND(i * 1.0 / sz_a, 6) AS containment FROM sc
              |  UNION ALL
              |  SELECT doc_b, doc_a, ROUND(i * 1.0 / sz_b, 6) FROM sc)
              |SELECT doc_a, doc_b, containment FROM dir2
              |WHERE containment >= 0.5""".stripMargin)),

    // The apply side: drop docs >= 0.5-contained in a LARGER doc (ties
    // keep the smaller id) — the excerpt/syndication cut symmetric
    // dedup misses; chains resolve in one pass (the largest always
    // survives).
    QueryDef("q_drop_contained",
      (s, dir) => Dedup.dropContained(Tables.load(s, dir, "documents"),
        "text", "doc_id", n = 3, tau = 0.5).select(col("doc_id")),
      Some(s"""WITH $shinglesCte,
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |sc AS (SELECT doc_a, doc_b, i, sa.sz AS sz_a, sb.sz AS sz_b
              |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
              |drops AS (
              |  SELECT doc_a AS d FROM sc WHERE ROUND(i * 1.0 / sz_a, 6) >= 0.5
              |    AND (sz_a < sz_b OR (sz_a = sz_b AND doc_a > doc_b))
              |  UNION
              |  SELECT doc_b FROM sc WHERE ROUND(i * 1.0 / sz_b, 6) >= 0.5
              |    AND (sz_b < sz_a OR (sz_a = sz_b AND doc_b > doc_a)))
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT d FROM drops)""".stripMargin)),

    // Pairwise semantic drift between label slices of the embedding
    // corpus: linear-kernel MMD (= squared distance of mean embeddings)
    // + mean-vector cosine per group pair — the embedding-space PSI.
    QueryDef("q_embedding_drift",
      (s, dir) => Vectors.embeddingDrift(
        Tables.load(s, dir, "embeddings"), "embedding", "label"),
      Some("""WITH nn AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL),
             |ex AS (SELECT CAST(label AS VARCHAR) AS grp, i, embedding[i]::DOUBLE AS v
             |  FROM nn, (SELECT unnest(generate_series(1, 64)) AS i)),
             |m AS (SELECT grp, i, AVG(v) AS m FROM ex GROUP BY 1, 2),
             |c AS (SELECT CAST(label AS VARCHAR) AS grp,
             |    CAST(COUNT(*) AS BIGINT) AS n FROM nn GROUP BY 1),
             |p AS (SELECT a.grp AS grp_a, b.grp AS grp_b,
             |    SUM((a.m - b.m) * (a.m - b.m)) AS mmd2,
             |    SUM(a.m * b.m) AS dab, SUM(a.m * a.m) AS ssa,
             |    SUM(b.m * b.m) AS ssb
             |  FROM m a JOIN m b ON a.i = b.i AND a.grp < b.grp GROUP BY 1, 2)
             |SELECT grp_a, grp_b, ca.n AS n_a, cb.n AS n_b,
             |  ROUND(mmd2, 6) AS mmd2,
             |  CASE WHEN ssa > 0 AND ssb > 0
             |       THEN ROUND(dab / (SQRT(ssa) * SQRT(ssb)), 6) END AS mean_cos
             |FROM p JOIN c ca ON ca.grp = p.grp_a
             |JOIN c cb ON cb.grp = p.grp_b""".stripMargin)),

    // PageRank over the symmetrized near-dup graph (5 fixed iterations):
    // link centrality of documents inside duplicate clusters. The oracle
    // unrolls the iterations as chained CTEs over the same jaccard edges.
    QueryDef("q_pagerank",
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "text", "doc_id", n = 3, tau = 0.4)
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        // checkpointEvery = 0: linear rank lineage (see q_katz) — one
        // declarative 5-iteration plan over the one checkpointed edge table
        Graph.pageRank(edges, "src", "dst", iterations = 5, checkpointEvery = 0)
          .withColumnRenamed("v", "doc_id")
      },
      Some {
        val iters = (1 to 5).map { i =>
          s"""r$i AS (SELECT verts.v,
             |    CAST(0.15 AS DOUBLE) / nn.n
             |      + CAST(0.85 AS DOUBLE) * COALESCE(SUM(p.rank / p.odeg), 0.0) AS rank
             |  FROM verts CROSS JOIN nn
             |  LEFT JOIN (SELECT e.dst, r.rank, od.odeg
             |             FROM e JOIN r${i - 1} r ON r.v = e.src
             |             JOIN od ON od.src = e.src) p ON p.dst = verts.v
             |  GROUP BY verts.v, nn.n)""".stripMargin
        }.mkString(",\n")
        s"""WITH $shinglesCte,
           |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
           |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
           |j AS (SELECT doc_a, doc_b,
           |    ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
           |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
           |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.4),
           |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |      UNION ALL SELECT doc_b, doc_a FROM pairs),
           |verts AS (SELECT DISTINCT src AS v FROM e),
           |nn AS (SELECT COUNT(*) AS n FROM verts),
           |od AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY 1),
           |r0 AS (SELECT v, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM verts CROSS JOIN nn),
           |$iters
           |SELECT v AS doc_id, ROUND(rank, 6) AS rank FROM r5""".stripMargin
      }),

    // Katz centrality over the same near-dup graph — the un-normalized
    // walk-counting sibling of q_pagerank (hubs pass FULL score along
    // every edge); 5 unrolled iterations, alpha 0.1.
    QueryDef("q_katz",
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "text", "doc_id", n = 3, tau = 0.4)
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        // checkpointEvery = 0: katz's score lineage is LINEAR (each xᵢ is
        // referenced exactly once by xᵢ₊₁), so 5 unrolled iterations stay
        // a 5-deep plan over the ONE checkpointed edge table. One action
        // instead of 5 driver materialization round-trips; shuffle files
        // already persist each iteration's stage output, so nothing is
        // recomputed (guide §2.4 — remove materialization that buys no
        // shuffle removal). Values unchanged (oracle hash-checked).
        Graph.katz(edges, "src", "dst", iterations = 5, alpha = 0.1,
          checkpointEvery = 0)
          .withColumnRenamed("v", "doc_id")
      },
      Some {
        val iters = (1 to 5).map { i =>
          s"""k$i AS (SELECT verts.v,
             |    1.0 + CAST(0.1 AS DOUBLE) * COALESCE(SUM(p.score), 0.0) AS score
             |  FROM verts
             |  LEFT JOIN (SELECT e.dst, r.score
             |             FROM e JOIN k${i - 1} r ON r.v = e.src) p
             |    ON p.dst = verts.v
             |  GROUP BY verts.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH $shinglesCte,
           |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
           |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
           |j AS (SELECT doc_a, doc_b,
           |    ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
           |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
           |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.4),
           |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |      UNION ALL SELECT doc_b, doc_a FROM pairs),
           |verts AS (SELECT DISTINCT src AS v FROM e),
           |k0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS score FROM verts),
           |$iters
           |SELECT v AS doc_id, ROUND(score, 6) AS katz FROM k5""".stripMargin
      }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    // the word co-occurrence graph (distance <= 2 in cleaned-token
    // space), top 20 by centrality. Edges come from sliced-array zips
    // (shuffle-free, fanout <= window per token — never a positional
    // self-join); the oracle zips aligned unnests per offset and
    // unrolls the same 5 PR iterations as q_pagerank.
    QueryDef("q_textrank",
      (s, dir) => Text.textrank(Tables.load(s, dir, "documents"),
        "text", "doc_id", window = 2, iterations = 5, topK = 20,
        // fixed 5 iterations: linear lineage unrolls into one plan (the
        // r16 PR-family finding); the public default stays 1 so deep
        // runs keep bounded plans
        checkpointEvery = 0),
      Some {
        val iters = (1 to 5).map { i =>
          s"""r$i AS (SELECT verts.v,
             |    CAST(0.15 AS DOUBLE) / nn.n
             |      + CAST(0.85 AS DOUBLE) * COALESCE(SUM(p.rank / p.odeg), 0.0) AS rank
             |  FROM verts CROSS JOIN nn
             |  LEFT JOIN (SELECT e.dst, r.rank, od.odeg
             |             FROM e JOIN r${i - 1} r ON r.v = e.src
             |             JOIN od ON od.src = e.src) p ON p.dst = verts.v
             |  GROUP BY verts.v, nn.n)""".stripMargin
        }.mkString(",\n")
        s"""WITH base AS (SELECT
           |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
           |      x -> x <> '') AS ts
           |  FROM documents WHERE text IS NOT NULL),
           |b2 AS (SELECT ts FROM base WHERE len(ts) >= 2),
           |p1 AS (SELECT unnest(ts[1:len(ts)-1]) AS wa,
           |    unnest(ts[2:len(ts)]) AS wb FROM b2),
           |p2 AS (SELECT unnest(ts[1:len(ts)-2]) AS wa,
           |    unnest(ts[3:len(ts)]) AS wb FROM b2 WHERE len(ts) >= 3),
           |co AS (SELECT wa, wb FROM
           |    (SELECT wa, wb FROM p1 UNION ALL SELECT wa, wb FROM p2)
           |  WHERE wa <> wb),
           |e AS (SELECT DISTINCT src, dst FROM
           |    (SELECT wa AS src, wb AS dst FROM co
           |     UNION ALL SELECT wb, wa FROM co)),
           |verts AS (SELECT DISTINCT src AS v FROM e),
           |nn AS (SELECT COUNT(*) AS n FROM verts),
           |od AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY 1),
           |r0 AS (SELECT v, CAST(1.0 AS DOUBLE) / nn.n AS rank
           |  FROM verts CROSS JOIN nn),
           |$iters
           |SELECT word, rank, CAST(rk AS INT) AS rk
           |FROM (SELECT v AS word, ROUND(rank, 6) AS rank,
           |    ROW_NUMBER() OVER (ORDER BY ROUND(rank, 6) DESC, v ASC)
           |      AS rk FROM r5)
           |WHERE rk <= 20""".stripMargin
      }),

    // HITS hubs/authorities over the DIRECTED order->part bipartite
    // graph (namespaced vertex ids so key spaces can't collide): hubs =
    // orders touching many popular parts, authorities = parts cited by
    // strong hubs. 3 fixed iterations, L2-normalized after each half
    // update; the oracle unrolls them as chained CTEs. Three iterations
    // stay far from overflow, so the six halves run as one plan
    // (checkpointEvery = 0, as q_pagerank) normalized once at the end.
    QueryDef("q_hits",
      (s, dir) => {
        // Narrow-type vertex encoding (optimization guide §2.3): the
        // namespaced id is carried through 6 half-iterations of joins
        // and aggregates and the final snapshot, so run the WHOLE
        // iteration on a reversible LONG key (orderkey*2 /
        // partkey*2+1 — the spaces are disjoint by parity) and decode to
        // the contract's 'o…'/'p…' string only in the final projection. Halves the iteration
        // state and replaces UTF8 hash/equality with long ops in every
        // shuffle, join probe and hash aggregate; identity-only use of
        // the key inside hits (no ordering), so results are unchanged
        // (oracle hash-checked).
        Graph.hits(
          Tables.load(s, dir, "lineitem").select(
            (col("l_orderkey").cast("long") * 2).as("src"),
            (col("l_partkey").cast("long") * 2 + 1).as("dst")),
          "src", "dst", iterations = 3, checkpointEvery = 0)
          .select(
            concat(when(col("v") % 2 === 0, lit("o")).otherwise(lit("p")),
              shiftright(col("v"), 1).cast("string")).as("node_id"),
            col("hub"), col("auth"))
      },
      Some {
        val iters = (1 to 3).map { i =>
          s"""a${i}r AS (SELECT verts.v, COALESCE(SUM(h.hub), 0.0) AS s
             |  FROM verts LEFT JOIN e ON e.dst = verts.v
             |  LEFT JOIN h${i - 1} h ON h.v = e.src GROUP BY verts.v),
             |a$i AS (SELECT v, CASE WHEN n.n > 0 THEN s / n.n ELSE 0.0 END AS auth
             |  FROM a${i}r CROSS JOIN (SELECT SQRT(SUM(s * s)) AS n FROM a${i}r) n),
             |h${i}r AS (SELECT verts.v, COALESCE(SUM(a.auth), 0.0) AS s
             |  FROM verts LEFT JOIN e ON e.src = verts.v
             |  LEFT JOIN a$i a ON a.v = e.dst GROUP BY verts.v),
             |h$i AS (SELECT v, CASE WHEN n.n > 0 THEN s / n.n ELSE 0.0 END AS hub
             |  FROM h${i}r CROSS JOIN (SELECT SQRT(SUM(s * s)) AS n FROM h${i}r) n)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT 'o' || l_orderkey AS src,
           |    'p' || l_partkey AS dst FROM lineitem),
           |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
           |h0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS hub FROM verts),
           |$iters
           |SELECT verts.v AS node_id, ROUND(h3.hub, 6) AS hub,
           |  ROUND(a3.auth, 6) AS auth
           |FROM verts JOIN h3 ON h3.v = verts.v JOIN a3 ON a3.v = verts.v"""
          .stripMargin
      }),

    // Adamic–Adar link prediction over a quarter of the order–part
    // graph: order pairs sharing >= 2 parts (and part pairs sharing
    // >= 2 orders), each common neighbor weighted 1/ln(degree) — rare
    // shared neighbors dominate. maxDegree 40 caps the wedge fan-out
    // (the df-cap family); the oracle replays the same cap.
    QueryDef("q_adamic_adar",
      (s, dir) => {
        // Same narrow-type encoding as q_hits (guide §2.3): the wedge
        // self-join and its pair aggregate run on LONG keys; the id is
        // identity-only inside the operator except for the canonical
        // pair ORIENTATION, which any total order serves equally for
        // grouping — the contract's string orientation is re-derived in
        // the final projection via least/greatest on the decoded ids,
        // so the output rows are unchanged (oracle hash-checked).
        val r = Graph.adamicAdar(
          Tables.load(s, dir, "lineitem")
            .filter(col("l_orderkey") % 4 === 0)
            .select((col("l_orderkey").cast("long") * 2).as("src"),
              (col("l_partkey").cast("long") * 2 + 1).as("dst")),
          "src", "dst", maxDegree = 40, minCommon = 2)
        def dec(c: org.apache.spark.sql.Column) =
          concat(when(c % 2 === 0, lit("o")).otherwise(lit("p")),
            shiftright(c, 1).cast("string"))
        r.select(least(dec(col("v_a")), dec(col("v_b"))).as("v_a"),
          greatest(dec(col("v_a")), dec(col("v_b"))).as("v_b"),
          col("common_neighbors"), col("score"))
      },
      Some("""WITH e0 AS (SELECT DISTINCT
             |    least('o' || l_orderkey, 'p' || l_partkey) AS a,
             |    greatest('o' || l_orderkey, 'p' || l_partkey) AS b
             |  FROM lineitem WHERE l_orderkey % 4 = 0),
             |sym AS (SELECT a AS v, b AS nb FROM e0 UNION ALL SELECT b, a FROM e0),
             |deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
             |ctr AS (SELECT s.v, s.nb, deg.d FROM sym s JOIN deg ON deg.v = s.v
             |  WHERE deg.d BETWEEN 2 AND 40)
             |SELECT l.nb AS v_a, r.nb AS v_b,
             |  CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             |  ROUND(SUM(1.0 / ln(l.d)), 6) AS score
             |FROM ctr l JOIN ctr r ON l.v = r.v AND l.nb < r.nb
             |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin)),

    // k-core peel over the undirected order–part graph: 4 fixed rounds
    // at k = 3 strip low-degree leaves and everything stranded by their
    // removal — the crawl-graph link-chaff filter. Both sides run the
    // SAME round count, so results match even pre-fixpoint; the spec
    // pins fixture convergence.
    QueryDef("q_kcore",
      (s, dir) => Graph.kCore(
        Tables.load(s, dir, "lineitem").select(
          concat(lit("o"), col("l_orderkey")).as("src"),
          concat(lit("p"), col("l_partkey")).as("dst")),
        "src", "dst", k = 3, rounds = 4),
      Some {
        val iters = (1 to 4).map { i =>
          s"""d$i AS (SELECT e.src AS v, COUNT(*) AS d FROM e
             |  JOIN k${i - 1} x ON x.v = e.src
             |  JOIN k${i - 1} y ON y.v = e.dst GROUP BY e.src),
             |k$i AS (SELECT v FROM d$i WHERE d >= 3)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT DISTINCT
           |    least('o' || l_orderkey, 'p' || l_partkey) AS a,
           |    greatest('o' || l_orderkey, 'p' || l_partkey) AS b
           |  FROM lineitem),
           |e AS (SELECT a AS src, b AS dst FROM e0
           |      UNION ALL SELECT b, a FROM e0),
           |k0 AS (SELECT DISTINCT src AS v FROM e),
           |$iters
           |SELECT e.src AS v, CAST(COUNT(*) AS BIGINT) AS core_degree
           |FROM e JOIN k4 x ON x.v = e.src JOIN k4 y ON y.v = e.dst
           |GROUP BY 1""".stripMargin
      }),

    // Deterministic synchronous label propagation (min label among the
    // most frequent neighbor labels) on the same graph: 3 iterations
    // carve the bipartite order–part fabric into dense communities — the
    // topical-neighborhood signal a mixing policy balances over.
    QueryDef("q_label_prop",
      (s, dir) => Graph.labelPropagation(
        Tables.load(s, dir, "lineitem").select(
          concat(lit("o"), col("l_orderkey")).as("src"),
          concat(lit("p"), col("l_partkey")).as("dst")),
        "src", "dst", iterations = 3),
      Some {
        val iters = (1 to 3).map { i =>
          s"""n$i AS (SELECT e.src AS v, l.lab, COUNT(*) AS c
             |  FROM e JOIN l${i - 1} l ON l.v = e.dst GROUP BY 1, 2),
             |b$i AS (SELECT v, MIN(lab) AS lab FROM (
             |    SELECT v, lab, c, MAX(c) OVER (PARTITION BY v) AS mx
             |    FROM n$i) WHERE c = mx GROUP BY v),
             |l$i AS (SELECT p.v, COALESCE(b.lab, p.lab) AS lab
             |  FROM l${i - 1} p LEFT JOIN b$i b ON b.v = p.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT DISTINCT
           |    least('o' || l_orderkey, 'p' || l_partkey) AS a,
           |    greatest('o' || l_orderkey, 'p' || l_partkey) AS b
           |  FROM lineitem),
           |e AS (SELECT a AS src, b AS dst FROM e0
           |      UNION ALL SELECT b, a FROM e0),
           |l0 AS (SELECT DISTINCT src AS v, src AS lab FROM e),
           |$iters
           |SELECT v, lab AS label FROM l3""".stripMargin
      }),

    // Modularity of the LPA-3 partition over the doc near-dup graph at
    // tau = 0.2 (looser threshold -> connected neighborhoods worth
    // scoring): Q in the exact-integer form (4m*e_in - sum Dc^2)/(4m^2),
    // so both engines divide the same integers. The quality gate on any
    // community structure before a mixing policy trusts it.
    QueryDef("q_modularity",
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "text", "doc_id", n = 3, tau = 0.2)
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val labels = Graph.labelPropagation(edges, "src", "dst", iterations = 3)
        Graph.modularity(edges, "src", "dst", labels)
      },
      Some {
        val iters = (1 to 3).map { i =>
          s"""n$i AS (SELECT e.src AS v, l.lab, COUNT(*) AS c
             |  FROM e JOIN l${i - 1} l ON l.v = e.dst GROUP BY 1, 2),
             |b$i AS (SELECT v, MIN(lab) AS lab FROM (
             |    SELECT v, lab, c, MAX(c) OVER (PARTITION BY v) AS mx
             |    FROM n$i) WHERE c = mx GROUP BY v),
             |l$i AS (SELECT p.v, COALESCE(b.lab, p.lab) AS lab
             |  FROM l${i - 1} p LEFT JOIN b$i b ON b.v = p.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH $shinglesCte,
           |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
           |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
           |j AS (SELECT doc_a, doc_b,
           |    ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
           |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
           |e0 AS (SELECT doc_a AS a, doc_b AS b FROM j WHERE jaccard >= 0.2),
           |e AS (SELECT a AS src, b AS dst FROM e0
           |      UNION ALL SELECT b, a FROM e0),
           |l0 AS (SELECT DISTINCT src AS v, src AS lab FROM e),
           |$iters,
           |le AS (SELECT e0.a, e0.b, la.lab AS la, lb.lab AS lb
           |  FROM e0 JOIN l3 la ON la.v = e0.a JOIN l3 lb ON lb.v = e0.b),
           |mm AS (SELECT COUNT(*) AS m,
           |    SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS e_in FROM le),
           |deg AS (SELECT v, l, COUNT(*) AS d FROM (
           |    SELECT a AS v, la AS l FROM le
           |    UNION ALL SELECT b, lb FROM le) GROUP BY 1, 2),
           |cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           |    SUM(dc * dc) AS dc2
           |  FROM (SELECT l, SUM(d) AS dc FROM deg GROUP BY l))
           |SELECT CAST(m AS BIGINT) AS m_edges, n_communities,
           |  CAST(e_in AS BIGINT) AS internal_edges,
           |  CASE WHEN m > 0 THEN ROUND(CAST(4 * m * e_in - dc2 AS DOUBLE)
           |    / (4.0 * m * m), 6) END AS modularity
           |FROM mm CROSS JOIN cm""".stripMargin
      }),

    // Personalized PageRank over the doc near-dup graph, teleporting to
    // the src0 seed docs — seed-and-expand curation: rank the rest of
    // the corpus by graph proximity to a vetted subset. Seeds outside
    // the pair graph still hold their teleport share (verts = graph ∪
    // seeds); dangling mass drops, matching q_pagerank's formulation.
    QueryDef("q_ppr",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          n = 3, tau = 0.4)
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        // checkpointEvery = 0: linear rank lineage (see q_katz) — the
        // seed/vertex tables stay checkpointed once inside the operator
        Graph.personalizedPageRank(edges, "src", "dst",
          docs.filter(col("source") === "src0").select(col("doc_id")),
          iterations = 5, checkpointEvery = 0)
          .withColumnRenamed("v", "doc_id")
      },
      Some {
        val iters = (1 to 5).map { i =>
          s"""r$i AS (SELECT sv.v,
             |    CASE WHEN sv.is_seed THEN CAST(0.15 AS DOUBLE) / ns.n
             |         ELSE 0.0 END
             |      + CAST(0.85 AS DOUBLE) * COALESCE(SUM(p.rank / p.odeg), 0.0) AS rank
             |  FROM sv CROSS JOIN ns
             |  LEFT JOIN (SELECT e.dst, r.rank, od.odeg
             |             FROM e JOIN r${i - 1} r ON r.v = e.src
             |             JOIN od ON od.src = e.src) p ON p.dst = sv.v
             |  GROUP BY sv.v, sv.is_seed, ns.n)""".stripMargin
        }.mkString(",\n")
        s"""WITH $shinglesCte,
           |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
           |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
           |j AS (SELECT doc_a, doc_b,
           |    ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
           |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
           |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.4),
           |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |      UNION ALL SELECT doc_b, doc_a FROM pairs),
           |seeds AS (SELECT DISTINCT doc_id AS v FROM documents
           |  WHERE source = 'src0'),
           |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e
           |  UNION SELECT v FROM seeds),
           |ns AS (SELECT COUNT(*) AS n FROM seeds),
           |sv AS (SELECT verts.v, (s.v IS NOT NULL) AS is_seed
           |  FROM verts LEFT JOIN seeds s ON s.v = verts.v),
           |od AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY 1),
           |r0 AS (SELECT sv.v,
           |    CASE WHEN sv.is_seed THEN CAST(1.0 AS DOUBLE) / ns.n
           |         ELSE 0.0 END AS rank
           |  FROM sv CROSS JOIN ns),
           |$iters
           |SELECT v AS doc_id, ROUND(rank, 6) AS rank FROM r5""".stripMargin
      }),

    QueryDef("q_dedup_minhash_lsh",
      (s, dir) => Dedup.minhashLshPairs(Tables.load(s, dir, "documents"),
        "text", "doc_id", n = 3, k = 16, bands = 4, tau = 0.4),
      Some(s"""WITH $shinglesCte,
              |mh AS (SELECT doc_id, hi, MIN(md5(CAST(hi AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh CROSS JOIN generate_series(1, 16) g(hi) GROUP BY doc_id, hi),
              |bs AS (SELECT doc_id, (hi - 1) // 4 AS band, string_agg(mh, '|' ORDER BY hi) AS sig
              |  FROM mh GROUP BY doc_id, (hi - 1) // 4),
              |bk AS (SELECT doc_id, band, sig,
              |    COUNT(*) OVER (PARTITION BY band, sig) AS bucket_n FROM bs),
              |bf AS (SELECT * FROM bk WHERE bucket_n <= 1000),
              |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
              |  FROM bf l JOIN bf r USING(band, sig) WHERE l.doc_id < r.doc_id),
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |j AS (SELECT c.doc_a, c.doc_b,
              |    ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
              |  FROM cand c JOIN inter USING(doc_a, doc_b)
              |  JOIN sz sa ON sa.doc_id = c.doc_a JOIN sz sb ON sb.doc_id = c.doc_b)
              |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.4""".stripMargin)),

    // Dedup candidate-path quality harness: MinHash-LSH verified pairs
    // graded against the exact n-gram-Jaccard ground truth at the same
    // threshold — recall quantifies the band-miss rate (the S-curve's
    // false-negative side), precision confirms the verify stage admits
    // nothing below tau. The dedup counterpart of q_ann_recall_variants:
    // every approximate pair generator's quality is measured, not
    // asserted.
    QueryDef("q_dedup_pair_recall",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.pairRecall(
          Dedup.minhashLshPairs(docs, "text", "doc_id",
            n = 3, k = 16, bands = 4, tau = 0.4),
          Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, tau = 0.4))
      },
      Some(s"""WITH $shinglesCte,
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |jx AS (SELECT doc_a, doc_b,
              |    ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
              |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
              |truth AS (SELECT doc_a, doc_b FROM jx WHERE jaccard >= 0.4),
              |mh AS (SELECT doc_id, hi, MIN(md5(CAST(hi AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh CROSS JOIN generate_series(1, 16) g(hi) GROUP BY doc_id, hi),
              |bs AS (SELECT doc_id, (hi - 1) // 4 AS band, string_agg(mh, '|' ORDER BY hi) AS sig
              |  FROM mh GROUP BY doc_id, (hi - 1) // 4),
              |bk AS (SELECT doc_id, band, sig,
              |    COUNT(*) OVER (PARTITION BY band, sig) AS bucket_n FROM bs),
              |bf AS (SELECT * FROM bk WHERE bucket_n <= 1000),
              |cd AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
              |  FROM bf l JOIN bf r USING(band, sig) WHERE l.doc_id < r.doc_id),
              |cand AS (SELECT c.doc_a, c.doc_b FROM cd c
              |  JOIN jx USING(doc_a, doc_b) WHERE jx.jaccard >= 0.4),
              |tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
              |cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
              |hc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
              |  FROM truth JOIN cand USING(doc_a, doc_b))
              |SELECT n_truth, n_cand, n_hit,
              |  CASE WHEN n_truth > 0 THEN ROUND(n_hit * 1.0 / n_truth, 6) ELSE 0.0 END AS recall,
              |  CASE WHEN n_cand > 0 THEN ROUND(n_hit * 1.0 / n_cand, 6) ELSE 0.0 END AS precision
              |FROM tc CROSS JOIN cc CROSS JOIN hc""".stripMargin)),

    // Incremental near-dup ADMISSION: the corpus slice (doc_id % 10 <> 0)
    // is indexed ONCE (band keys + full signatures); the "new batch"
    // (doc_id % 10 = 0) is admitted against the index — candidates by band
    // equality, verified by the signature-agreement estimate jhat =
    // matches/16 (the index stores signatures, not shingles — that is what
    // makes admission O(batch)). Every batch doc gets an explicit verdict
    QueryDef("q_dedup_minhash_admit",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.admitNearDups(
          docs.filter(col("doc_id") % 10 === 0),
          Dedup.minhashBandIndex(docs.filter(col("doc_id") % 10 =!= 0),
            "text", "doc_id", n = 3, k = 16, bands = 4),
          "text", "doc_id", n = 3, k = 16, bands = 4, tau = 0.4)
      },
      Some(s"""WITH $shinglesCte,
              |mh AS (SELECT doc_id, hi, MIN(md5(CAST(hi AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh CROSS JOIN generate_series(1, 16) g(hi) GROUP BY doc_id, hi),
              |bs AS (SELECT doc_id, (hi - 1) // 4 AS band, string_agg(mh, '|' ORDER BY hi) AS sig
              |  FROM mh GROUP BY doc_id, (hi - 1) // 4),
              |ix AS (SELECT * FROM bs WHERE doc_id % 10 <> 0),
              |nb AS (SELECT * FROM bs WHERE doc_id % 10 = 0),
              |cap AS (SELECT band, sig FROM ix GROUP BY band, sig HAVING COUNT(*) > 1000),
              |ixf AS (SELECT ix.* FROM ix LEFT JOIN cap USING(band, sig) WHERE cap.band IS NULL),
              |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS ex_id
              |  FROM nb n JOIN ixf c USING(band, sig)),
              |ag AS (SELECT cand.new_id, cand.ex_id,
              |    ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0, 6) AS jhat
              |  FROM cand
              |  JOIN mh a ON a.doc_id = cand.new_id
              |  JOIN mh b ON b.doc_id = cand.ex_id AND b.hi = a.hi
              |  GROUP BY cand.new_id, cand.ex_id),
              |m AS (SELECT new_id, MIN(ex_id) AS dup_of, MAX(jhat) AS best_jhat
              |  FROM ag WHERE jhat >= 0.4 GROUP BY new_id)
              |SELECT d.doc_id, (m.dup_of IS NOT NULL) AS is_dup, m.dup_of, m.best_jhat
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
              |LEFT JOIN m ON m.new_id = d.doc_id""".stripMargin)),

    // The PACKED admission path: one row per index bucket, candidates
    // resolved by row-local array folds after stream-static-legal left
    // joins — the same verdicts through a state-free plan that runs
    // unchanged on a streaming batch (StreamingSpec parity). Same oracle.
    QueryDef("q_dedup_minhash_admit_packed",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.admitNearDupsPacked(
          docs.filter(col("doc_id") % 10 === 0),
          Dedup.packedAdmitIndex(
            Dedup.minhashBandIndex(docs.filter(col("doc_id") % 10 =!= 0),
              "text", "doc_id", n = 3, k = 16, bands = 4), "doc_id"),
          "text", "doc_id", n = 3, k = 16, bands = 4, tau = 0.4)
      },
      Some(s"""WITH $shinglesCte,
              |mh AS (SELECT doc_id, hi, MIN(md5(CAST(hi AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh CROSS JOIN generate_series(1, 16) g(hi) GROUP BY doc_id, hi),
              |bs AS (SELECT doc_id, (hi - 1) // 4 AS band, string_agg(mh, '|' ORDER BY hi) AS sig
              |  FROM mh GROUP BY doc_id, (hi - 1) // 4),
              |ix AS (SELECT * FROM bs WHERE doc_id % 10 <> 0),
              |nb AS (SELECT * FROM bs WHERE doc_id % 10 = 0),
              |cap AS (SELECT band, sig FROM ix GROUP BY band, sig HAVING COUNT(*) > 1000),
              |ixf AS (SELECT ix.* FROM ix LEFT JOIN cap USING(band, sig) WHERE cap.band IS NULL),
              |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS ex_id
              |  FROM nb n JOIN ixf c USING(band, sig)),
              |ag AS (SELECT cand.new_id, cand.ex_id,
              |    ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0, 6) AS jhat
              |  FROM cand
              |  JOIN mh a ON a.doc_id = cand.new_id
              |  JOIN mh b ON b.doc_id = cand.ex_id AND b.hi = a.hi
              |  GROUP BY cand.new_id, cand.ex_id),
              |m AS (SELECT new_id, MIN(ex_id) AS dup_of, MAX(jhat) AS best_jhat
              |  FROM ag WHERE jhat >= 0.4 GROUP BY new_id)
              |SELECT d.doc_id, (m.dup_of IS NOT NULL) AS is_dup, m.dup_of, m.best_jhat
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
              |LEFT JOIN m ON m.new_id = d.doc_id""".stripMargin)),

    // Split-leakage audit: near-dup pairs whose members landed in
    // DIFFERENT hash splits — the eval-hygiene check run after any
    // per-doc split (a train doc nearly identical to a test doc inflates
    // eval scores exactly like benchmark contamination). Composes the
    // minhash pair detector with hashSplit labels; at scale the pair
    // table is the tiny side, so labeling is two broadcast-able id joins
    QueryDef("q_split_leakage",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val split = Text.hashSplit(docs, "doc_id",
          Seq("train" -> 0.8, "dev" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("split"))
        val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
          n = 3, k = 16, bands = 4, tau = 0.4)
        pairs
          .join(split.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("split", "split_a"), Seq("doc_a"))
          .join(split.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("split", "split_b"), Seq("doc_b"))
          .filter(col("split_a") =!= col("split_b"))
          .select(col("doc_a"), col("doc_b"), col("jaccard"),
            col("split_a"), col("split_b"))
      },
      Some(s"""WITH $shinglesCte,
              |mh AS (SELECT doc_id, hi, MIN(md5(CAST(hi AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh CROSS JOIN generate_series(1, 16) g(hi) GROUP BY doc_id, hi),
              |bs AS (SELECT doc_id, (hi - 1) // 4 AS band, string_agg(mh, '|' ORDER BY hi) AS sig
              |  FROM mh GROUP BY doc_id, (hi - 1) // 4),
              |bk AS (SELECT doc_id, band, sig,
              |    COUNT(*) OVER (PARTITION BY band, sig) AS bucket_n FROM bs),
              |bf AS (SELECT * FROM bk WHERE bucket_n <= 1000),
              |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
              |  FROM bf l JOIN bf r USING(band, sig) WHERE l.doc_id < r.doc_id),
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |j AS (SELECT c.doc_a, c.doc_b,
              |    ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
              |  FROM cand c JOIN inter USING(doc_a, doc_b)
              |  JOIN sz sa ON sa.doc_id = c.doc_a JOIN sz sb ON sb.doc_id = c.doc_b),
              |pr AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.4),
              |sp AS (SELECT doc_id, CASE WHEN ${md5Val16Sql("doc_id")} < 52428 THEN 'train'
              |    WHEN ${md5Val16Sql("doc_id")} < 58982 THEN 'dev' ELSE 'test' END AS split
              |  FROM documents)
              |SELECT pr.doc_a, pr.doc_b, pr.jaccard,
              |  sa.split AS split_a, sb.split AS split_b
              |FROM pr JOIN sp sa ON sa.doc_id = pr.doc_a
              |JOIN sp sb ON sb.doc_id = pr.doc_b
              |WHERE sa.split <> sb.split""".stripMargin)),

    // Pair -> group resolution: connected components over the near-dup pair
    // graph, canonical id = component minimum (iterative min-label
    // propagation; the oracle closes the same graph with a recursive CTE)
    QueryDef("q_dedup_groups",
      (s, dir) => Dedup.dedupGroups(
        Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "text", "doc_id", n = 3, tau = 0.4)),
      Some(s"""WITH RECURSIVE $shinglesCte,
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |pairs AS (SELECT doc_a, doc_b
              |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
              |  WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.4),
              |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |cc AS (
              |  SELECT DISTINCT a AS doc, a AS lbl FROM e
              |  UNION
              |  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.doc)
              |SELECT doc AS doc_id, MIN(lbl) AS canonical_id FROM cc GROUP BY doc""".stripMargin)),

    // Near-dup-leakage-safe split: hash-split on the dedup CLUSTER key,
    // so a near-dup of a test doc can never sit in train — the oracle
    // replays the group closure, then the same md5-nibble threshold as
    // the hash-split family on the canonical key
    QueryDef("q_cluster_split",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val groups = Dedup.dedupGroups(
          Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, tau = 0.4))
        Dedup.clusterSafeSplit(docs, groups, "doc_id",
          Seq("train" -> 0.8, "test" -> 0.2))
          .select(col("doc_id"), col("split"))
      },
      Some {
        val hv = Catalog.hex16Sql("h")
        s"""WITH RECURSIVE $shinglesCte,
           |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
           |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
           |pairs AS (SELECT doc_a, doc_b
           |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
           |  WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.4),
           |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |cc AS (
           |  SELECT DISTINCT a AS doc, a AS lbl FROM e
           |  UNION
           |  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.doc),
           |g AS (SELECT doc AS doc_id, MIN(lbl) AS canonical_id FROM cc GROUP BY doc),
           |ck AS (SELECT d.doc_id,
           |    md5(CAST(COALESCE(g.canonical_id, d.doc_id) AS VARCHAR)) AS h
           |  FROM documents d LEFT JOIN g USING(doc_id))
           |SELECT doc_id,
           |  CASE WHEN $hv < 52428 THEN 'train' ELSE 'test' END AS split
           |FROM ck""".stripMargin
      }),

    // Same pair graph resolved by the alternating large-star/small-star
    // algorithm (log-round convergence independent of chain diameter —
    // the 100 TB path) — drop-in interchangeable with dedupGroups, so the
    // SAME recursive-CTE closure is its oracle
    QueryDef("q_dedup_groups_star",
      (s, dir) => Graph.connectedComponents(
        Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "text", "doc_id", n = 3, tau = 0.4)),
      Some(s"""WITH RECURSIVE $shinglesCte,
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |pairs AS (SELECT doc_a, doc_b
              |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
              |  WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.4),
              |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |cc AS (
              |  SELECT DISTINCT a AS doc, a AS lbl FROM e
              |  UNION
              |  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.doc)
              |SELECT doc AS doc_id, MIN(lbl) AS canonical_id FROM cc GROUP BY doc""".stripMargin)),

    // Canonical-document selection after group resolution: EVERY corpus
    // doc gets an explicit (group_id, kept) decision — singletons keep,
    // a group's winner is its longest member (ties: min id)
    QueryDef("q_dedup_resolve",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val groups = Dedup.dedupGroups(
          Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, tau = 0.4))
        Dedup.resolveDuplicates(docs, groups, "doc_id", col("n_chars"))
      },
      Some(s"""WITH RECURSIVE $shinglesCte,
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |pairs AS (SELECT doc_a, doc_b
              |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
              |  WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.4),
              |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |cc AS (
              |  SELECT DISTINCT a AS doc, a AS lbl FROM e
              |  UNION
              |  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.doc),
              |grp AS (SELECT doc AS doc_id, MIN(lbl) AS group_id FROM cc GROUP BY doc),
              |rk AS (SELECT g.doc_id, g.group_id, ROW_NUMBER() OVER (
              |    PARTITION BY g.group_id ORDER BY d.n_chars DESC, g.doc_id ASC) AS r
              |  FROM grp g JOIN documents d USING(doc_id))
              |SELECT d.doc_id, rk.group_id, COALESCE(rk.r = 1, TRUE) AS kept
              |FROM documents d LEFT JOIN rk USING(doc_id)""".stripMargin)),

    // SOFT dedup: every doc weighted 1/|near-dup group| instead of a hard
    // keep/drop — the SlimPajama-style alternative; singletons weight 1.0
    QueryDef("q_dedup_softweight",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val groups = Dedup.dedupGroups(
          Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, tau = 0.4))
        Dedup.duplicationWeights(docs, groups, "doc_id")
      },
      Some(s"""WITH RECURSIVE $shinglesCte,
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |pairs AS (SELECT doc_a, doc_b
              |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
              |  WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.4),
              |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |cc AS (
              |  SELECT DISTINCT a AS doc, a AS lbl FROM e
              |  UNION
              |  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.doc),
              |grp AS (SELECT doc AS doc_id, MIN(lbl) AS group_id FROM cc GROUP BY doc),
              |gsz AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS n FROM grp GROUP BY group_id)
              |SELECT d.doc_id,
              |  COALESCE(grp.group_id, d.doc_id) AS group_id,
              |  COALESCE(gsz.n, 1) AS n_dups,
              |  ROUND(1.0 / COALESCE(gsz.n, 1), 6) AS weight
              |FROM documents d
              |LEFT JOIN grp ON grp.doc_id = d.doc_id
              |LEFT JOIN gsz ON gsz.group_id = grp.group_id""".stripMargin)),

    // Exact substring dedup (Lee et al. 2022 family): maximal verbatim
    // token spans >= 16 tokens shared across doc pairs, via positional
    // 8-shingles -> shingle equi-join -> diagonal gaps-and-islands runs.
    // A fixed 24-token paragraph is seeded onto every 25th doc (the
    // corpus's natural exact/near dups contribute the rest), so both the
    // cross-doc-boilerplate case and the full-doc-duplicate case are
    // exercised; the span arithmetic is pure integer math end-to-end.
    QueryDef("q_dedup_substring",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text2",
          when(col("doc_id") % 25 === 0,
            concat(col("text"), lit(" " + SubstringPara))).otherwise(col("text")))
        Dedup.substringDupSpans(seeded, "text2", "doc_id",
          k = 8, minSpanTokens = 16)
      },
      Some(s"""WITH $substringSpansCtes
              |SELECT doc_a, doc_b, a_start, b_start, span_tokens FROM spansq""".stripMargin)),

    // The second half of the exact-substring flow: CUT the flagged spans
    // from the duplicate (doc_b) side — every doc emits its cleaned,
    // single-spaced lowercased token stream + how many tokens were
    // removed. Pure integer positions + string joins, hash-matched.
    QueryDef("q_dedup_substring_cut",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text2",
          when(col("doc_id") % 25 === 0,
            concat(col("text"), lit(" " + SubstringPara))).otherwise(col("text")))
        val spans = Dedup.substringDupSpans(seeded, "text2", "doc_id",
          k = 8, minSpanTokens = 16)
        Dedup.cutSpans(seeded, spans, "text2", "doc_id")
      },
      Some(s"""WITH $substringSpansCtes,
              |cut AS (SELECT doc_b AS doc_id, b_start, b_start + span_tokens AS b_end FROM spansq),
              |tok AS (SELECT doc_id, unnest(ts) AS tok,
              |    unnest(generate_series(0, len(ts) - 1)) AS pos FROM t),
              |kept AS (SELECT k.* FROM tok k WHERE NOT EXISTS (
              |  SELECT 1 FROM cut c WHERE c.doc_id = k.doc_id
              |    AND k.pos >= c.b_start AND k.pos < c.b_end)),
              |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt,
              |    COUNT(*) AS n FROM kept GROUP BY doc_id)
              |SELECT t.doc_id, COALESCE(a.txt, '') AS clean_text,
              |  CAST(len(t.ts) - COALESCE(a.n, 0) AS BIGINT) AS n_tokens_removed
              |FROM t LEFT JOIN agg a USING(doc_id)""".stripMargin)),

    // STRING-ID twin of q_dedup_groups: the pair graph and min-label
    // propagation run on native VARCHAR doc ids — min() is binary
    // lexicographic in both engines, and the zero-padded id makes that
    // order coincide with the numeric one, so canonical representatives
    // agree with the long-id variant by construction.
    QueryDef("q_dedup_groups_strid",
      (s, dir) => Dedup.dedupGroups(
        Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents")
            .select(strIdCol.as("doc_id"), col("text")),
          "text", "doc_id", n = 3, tau = 0.4)),
      Some(s"""WITH RECURSIVE ${shinglesCteWith(strIdSql)},
              |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              |  FROM sh x JOIN sh y USING(shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
              |pairs AS (SELECT doc_a, doc_b
              |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
              |  WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.4),
              |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |cc AS (
              |  SELECT DISTINCT a AS doc, a AS lbl FROM e
              |  UNION
              |  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.doc)
              |SELECT doc AS doc_id, MIN(lbl) AS canonical_id FROM cc GROUP BY doc""".stripMargin)),

    // Corpus boilerplate profiling: top-k shingles by document frequency
    QueryDef("q_text_top_shingles",
      (s, dir) => Dedup.topShingles(Tables.load(s, dir, "documents"),
        "text", "doc_id", n = 3, k = 20),
      Some(s"""WITH $shinglesCte,
              |df AS (SELECT shingle, COUNT(*) AS df_n FROM sh GROUP BY shingle)
              |SELECT shingle, df_n FROM df ORDER BY df_n DESC, shingle LIMIT 20""".stripMargin)),

    // Repeated-ngram quality signal (C4-style)
    QueryDef("q_text_repetition",
      (s, dir) => Text.repetitionScore(Tables.load(s, dir, "documents"), "text", "doc_id"),
      Some(s"""WITH $shinglesCte,
              |tot AS (SELECT doc_id, greatest(len(ts) - 2, 0) AS total FROM toks)
              |SELECT t.doc_id, CAST(t.total AS BIGINT) AS n_shingles,
              |  CAST(COALESCE(sz.sz, 0) AS BIGINT) AS n_distinct_shingles,
              |  CAST(CASE WHEN t.total > 0
              |       THEN ROUND(1.0 - COALESCE(sz.sz, 0) * 1.0 / t.total, 6)
              |       ELSE 0.0 END AS DOUBLE) AS rep_ratio
              |FROM tot t LEFT JOIN sz ON sz.doc_id = t.doc_id""".stripMargin)),

    // Production-path minhash: xxhash64 signature family + 64-bit band keys
    // (rows-only: DuckDB has no xxhash64, so the md5 variant above stays the
    // oracle fixture; DedupSpec ties the two with an agreement check)
    QueryDef("q_dedup_minhash_fast",
      (s, dir) => Dedup.minhashLshPairs(Tables.load(s, dir, "documents"),
        "text", "doc_id", n = 3, k = 16, bands = 4, tau = 0.4, fastHash = true),
      None),

    QueryDef("q_dedup_embed_cosine",
      (s, dir) => Vectors.cosineDupPairs(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", tau = 0.3, bucketed = false),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS cos
              |FROM e a JOIN e b ON a.vec_id < b.vec_id
              |WHERE ${cosSql("a.v", "b.v")} >= 0.3""".stripMargin)),

    // Scale path of the cosine dedup: candidate pairs collide on ANY of 20
    // sign-LSH bands of 4 planes each (bands×rows OR-structure, per-band
    // bucket cap) and are verified with exact cosine. The oracle's band
    // bucket expressions are generated from the SAME Vectors.planePairs
    // call the Spark side uses, so the two can never drift.
    QueryDef("q_dedup_embed_cosine_lsh",
      (s, dir) => Vectors.cosineDupPairs(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", tau = 0.3, bucketed = true),
      Some {
        val bandSelects = Vectors.planePairs(nBands = 20, nPlanes = 4, dim = 64)
          .zipWithIndex.map { case (prs, b) =>
            val bucket = prs.zipWithIndex
              .map { case ((i, j), p) =>
                s"(CASE WHEN v[${i + 1}] > v[${j + 1}] THEN ${1L << p} ELSE 0 END)" }
              .mkString("(", " + ", ")")
            s"SELECT vec_id, $b AS band, $bucket AS bucket FROM e"
          }.mkString("\n  UNION ALL ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |bb AS (
           |  $bandSelects),
           |bk AS (SELECT vec_id, band, bucket,
           |    COUNT(*) OVER (PARTITION BY band, bucket) AS bucket_n FROM bb),
           |bf AS (SELECT vec_id, band, bucket FROM bk WHERE bucket_n <= 1000),
           |cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
           |  FROM bf l JOIN bf r USING(band, bucket) WHERE l.vec_id < r.vec_id)
           |SELECT c.id_a, c.id_b, ${cosSql("a.v", "b.v")} AS cos
           |FROM cand c JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b
           |WHERE ${cosSql("a.v", "b.v")} >= 0.3""".stripMargin
      }),

    // SemDeDup: deterministic variant — 8 md5-seeded clusters, max-cosine
    // assignment (ties to the earlier seed in (md5, id) order), drop any
    // member with a lower-id cluster-mate at cos >= tau. The oracle replays
    // seed choice, assignment, and the keep/drop verdicts row for row.
    QueryDef("q_semdedup",
      (s, dir) => Vectors.semDedup(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, tau = 0.25),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |s AS (SELECT sid, sv, srank FROM (
              |    SELECT vec_id AS sid, v AS sv,
              |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srank
              |    FROM e) WHERE srank <= 8),
              |a AS (SELECT e.vec_id, e.v, s.sid, s.srank,
              |    ${cosSql("e.v", "s.sv")} AS cos FROM e CROSS JOIN s),
              |asg AS (SELECT vec_id, v, sid FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY cos DESC, srank ASC) AS rn FROM a) WHERE rn = 1),
              |drp AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
              |    ON a.sid = b.sid AND a.vec_id < b.vec_id
              |  WHERE ${cosSql("a.v", "b.v")} >= 0.25)
              |SELECT asg.vec_id, asg.sid AS cluster,
              |  (drp.vec_id IS NULL) AS keep
              |FROM asg LEFT JOIN drp ON asg.vec_id = drp.vec_id""".stripMargin)),

    // SSL-prototypes scoring (Sorscher et al. 2022): cosine to the
    // assigned (deterministic md5-seeded) prototype, ranked within the
    // cluster; keep = outside the dropFraction most-prototypical band.
    // The oracle replays seed pick, assignment, rank, and verdicts.
    QueryDef("q_prototype_prune",
      (s, dir) => Vectors.prototypePrune(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, dropFraction = 0.25),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |${seedAsgSql("e", 8, "")},
              |rk AS (SELECT vec_id, sid AS cluster, cos AS proto_cos,
              |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY cos DESC, vec_id) AS proto_rank,
              |    COUNT(*) OVER (PARTITION BY sid) AS cluster_n FROM asg)
              |SELECT vec_id, cluster, proto_cos, proto_rank, cluster_n,
              |  proto_rank > FLOOR(0.25 * cluster_n) AS keep FROM rk""".stripMargin)),

    // D4 (Tirumala et al. 2023): SemDeDup first, SSL-prototypes pruning
    // on the survivors — the published two-stage recipe, end to end. The
    // oracle chains both stages' CTEs (second seed pick runs over the
    // dedup survivors, exactly as the engine re-seeds the subset).
    QueryDef("q_d4_pipeline",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val survivors = Vectors.semDedup(e, "vec_id", "embedding", k = 8, tau = 0.25)
          .filter(col("keep")).select("vec_id")
        Vectors.prototypePrune(e.join(survivors, Seq("vec_id")),
            "vec_id", "embedding", k = 8, dropFraction = 0.25)
          .filter(col("keep"))
          .select(col("vec_id"), col("cluster"), col("proto_rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |${seedAsgSql("e", 8, "d")},
              |drp AS (SELECT DISTINCT b.vec_id FROM dasg a JOIN dasg b
              |    ON a.sid = b.sid AND a.vec_id < b.vec_id
              |  WHERE ${cosSql("a.v", "b.v")} >= 0.25),
              |sv AS (SELECT g.vec_id, g.v FROM dasg g LEFT JOIN drp
              |    ON g.vec_id = drp.vec_id
              |  WHERE drp.vec_id IS NULL),
              |${seedAsgSql("sv", 8, "p")},
              |rk AS (SELECT vec_id, sid AS cluster,
              |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY cos DESC, vec_id) AS proto_rank,
              |    COUNT(*) OVER (PARTITION BY sid) AS cluster_n FROM pasg)
              |SELECT vec_id, cluster, proto_rank FROM rk
              |WHERE proto_rank > FLOOR(0.25 * cluster_n)""".stripMargin)),

    // --- similarity search ----------------------------------------------

    QueryDef("q_ann_brute",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Vectors.bruteForceTopK(
          e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding")),
          e.filter(col("vec_id") >= 5).select(col("vec_id").as("cid"), col("embedding")),
          k = 3)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 5),
              |sc AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q CROSS JOIN c),
              |r AS (SELECT qid, cid, cos,
              |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sc)
              |SELECT qid, cid, cos, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // MMR diversification over the ANN top-10: greedy relevance-vs-
    // redundancy re-rank. The oracle replays every pick as a recursive
    // CTE (the q_icp_order trick) carrying the picked VECTORS as
    // recursion state — redundancy = max 6-dp-rounded cosine against
    // all picked, score ordered DESC with min-cid ties, one pick per
    // query per iteration. Engine-portable because mmrRerank rounds the
    // redundancy cosine BEFORE its argmax (the icpOrder contract).
    QueryDef("q_mmr_rerank",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val c = e.filter(col("vec_id") >= 5).select(col("vec_id").as("cid"), col("embedding"))
        val top = Vectors.bruteForceTopK(
          e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding")),
          c, 10).join(c, Seq("cid"))
          .select(col("qid"), col("cid"), col("cos").as("rel"), col("embedding"))
        Vectors.mmrRerank(top, k = 5, lambda = 0.5)
          .withColumn("mmr_rank", col("mmr_rank").cast("long"))
      },
      Some(s"""WITH RECURSIVE q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 5),
              |sc AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q CROSS JOIN c),
              |r AS (SELECT qid, cid, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sc),
              |cand AS (SELECT r.qid, r.cid, r.cos AS rel, c.ce AS v FROM r JOIN c ON r.cid = c.cid WHERE rnk <= 10),
              |rec AS (
              |  SELECT qid, 0 AS rk, CAST(NULL AS BIGINT) AS cid, CAST(NULL AS DOUBLE) AS rel,
              |    CAST(NULL AS DOUBLE) AS score,
              |    CAST([] AS BIGINT[]) AS picked, CAST([] AS DOUBLE[][]) AS pvecs
              |  FROM (SELECT DISTINCT qid FROM cand)
              |  UNION ALL
              |  SELECT qid, rk, cid, rel, score, picked, pvecs FROM (
              |    SELECT r.qid AS qid, r.rk + 1 AS rk, c.cid, c.rel,
              |      0.5 * c.rel - 0.5 * coalesce(list_max(list_transform(r.pvecs, p -> ${cosSql("p", "c.v")})), 0.0) AS score,
              |      list_append(r.picked, c.cid) AS picked, list_append(r.pvecs, c.v) AS pvecs,
              |      ROW_NUMBER() OVER (PARTITION BY r.qid ORDER BY
              |        0.5 * c.rel - 0.5 * coalesce(list_max(list_transform(r.pvecs, p -> ${cosSql("p", "c.v")})), 0.0) DESC,
              |        c.cid ASC) AS rn
              |    FROM rec r JOIN cand c ON c.qid = r.qid AND NOT list_contains(r.picked, c.cid)
              |    WHERE r.rk < 5
              |  ) WHERE rn = 1
              |)
              |SELECT qid, cid, rel, CAST(rk AS BIGINT) AS mmr_rank, ROUND(score, 6) AS mmr_score
              |FROM rec WHERE rk >= 1""".stripMargin)),

    // In-context-pretraining layout (Shi et al. 2023): greedy nearest-
    // neighbor chains inside sign-LSH locality buckets; sorting by
    // (bucket, chain_pos) makes packed context windows semantically
    // coherent. The oracle replays the greedy exactly as a recursive CTE
    // (the q_text_pack trick): each iteration advances EVERY bucket's
    // chain one pick (row_number over the not-yet-picked candidates,
    // rounded-cos desc then min id — the same tiebreak the Scala walk
    // uses), carrying the picked list as recursion state.
    QueryDef("q_icp_order",
      (s, dir) => Vectors.icpOrder(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding"),
      Some(s"""WITH RECURSIVE e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
              |eb AS (SELECT id, v, ${bucketSql("v")} AS b FROM e),
              |h AS (SELECT b, min(id) AS hid FROM eb GROUP BY b),
              |rec AS (
              |  SELECT eb.b, CAST(1 AS BIGINT) AS pos, eb.id,
              |    CAST(0.0 AS DOUBLE) AS link_cos, [eb.id] AS picked, eb.v AS cv
              |  FROM eb JOIN h ON eb.b = h.b AND eb.id = h.hid
              |  UNION ALL
              |  SELECT b, pos, id, link_cos, picked, cv FROM (
              |    SELECT r.b, r.pos + 1 AS pos, c.id,
              |      ${cosSql("r.cv", "c.v")} AS link_cos,
              |      list_append(r.picked, c.id) AS picked, c.v AS cv,
              |      ROW_NUMBER() OVER (PARTITION BY r.b
              |        ORDER BY ${cosSql("r.cv", "c.v")} DESC, c.id ASC) AS rn
              |    FROM rec r JOIN eb c ON c.b = r.b AND NOT list_contains(r.picked, c.id)
              |  ) WHERE rn = 1
              |)
              |SELECT id, CAST(b AS BIGINT) AS bucket, pos AS chain_pos, link_cos
              |FROM rec""".stripMargin)),

    // ANN quality eval in-engine: recall/mrr/ndcg of the LSH index
    // against brute-force truth at k=5 — the index-tuning A/B loop run
    // without exporting run files; composes lshTopK + bruteForceTopK
    // through rankingMetrics, every stage already individually oracled
    QueryDef("q_ann_recall",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding"))
        val c = e.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("cid"), col("embedding"))
        val truth = Vectors.bruteForceTopK(q, c, k = 5)
          .select(col("qid"), col("cid"), lit(1.0).as("rel"))
        val approx = Vectors.lshTopK(q, c, k = 5)
          .select(col("qid"), col("cid"), col("rnk").as("rk"))
        Search.rankingMetrics(approx, truth, k = 5, qId = "qid", dId = "cid")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe,
              |    ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id < 20),
              |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
              |    ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id >= 20),
              |bt AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q CROSS JOIN c),
              |qrels AS (SELECT qid, cid, CAST(1.0 AS DOUBLE) AS rel FROM (
              |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
              |      ORDER BY cos DESC, cid) AS rnk FROM bt) WHERE rnk <= 5),
              |ls AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q JOIN c USING(bucket)),
              |topk AS (SELECT qid, cid, rk FROM (
              |    SELECT qid, cid, CAST(ROW_NUMBER() OVER (PARTITION BY qid
              |      ORDER BY cos DESC, cid) AS DOUBLE) AS rk FROM ls) WHERE rk <= 5),
              |hits AS (SELECT t.qid, COUNT(*) AS h, MIN(t.rk) AS minrk,
              |    SUM((POW(2, rel) - 1) / log2(t.rk + 1)) AS dcg
              |  FROM topk t JOIN qrels USING(qid, cid) GROUP BY 1),
              |ideal AS (SELECT qid, SUM((POW(2, rel) - 1) / log2(irk + 1)) AS idcg
              |  FROM (SELECT qid, rel, CAST(ROW_NUMBER() OVER (
              |      PARTITION BY qid ORDER BY rel DESC, cid) AS DOUBLE) AS irk
              |    FROM qrels) WHERE irk <= 5 GROUP BY 1),
              |nr AS (SELECT qid, COUNT(*) AS n_rel FROM qrels GROUP BY 1)
              |SELECT nr.qid, CAST(nr.n_rel AS BIGINT) AS n_rel,
              |  ROUND(CAST(COALESCE(h, 0) AS DOUBLE) / nr.n_rel, 6) AS recall_k,
              |  ROUND(COALESCE(1.0 / minrk, 0.0), 6) AS mrr_k,
              |  ROUND(COALESCE(dcg, 0.0) / idcg, 6) AS ndcg_k
              |FROM nr JOIN ideal USING(qid) LEFT JOIN hits USING(qid)""".stripMargin)),

    // The full quality-vs-cost frontier: recall/mrr/ndcg of EVERY shipped
    // index family against brute-force truth at k=3, one row per variant
    // (same fixtures as the individual q_ann_* queries). Rows-only by
    // design — each variant's top-k is already individually oracle-checked;
    // AnnEvalSpec pins the report's invariants (brute recall = 1, bounds,
    // full coverage).
    QueryDef("q_ann_recall_variants",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding"))
        val c = e.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("cid"), col("embedding"))
        val k = 3
        val truth = Vectors.bruteForceTopK(q, c, k)
        val sqP = Sq.fit(c)
        val sqCodes = Sq.encode(c, "cid", "embedding", sqP)
        val pqCb = Pq.codebookFromRows(c, "cid", "embedding", (20L to 27L).toSeq, m = 2)
        val pqCodes = Pq.encode(c, "cid", "embedding", pqCb)
        val cents = c.filter(col("cid") <= 23).orderBy("cid")
          .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
        val ivf = graft.ops.IvfIndex.fromCentroids(cents, c, "cid", "embedding")
        val res = Pq.residuals(ivf.assigned, "embedding", cents)
        val rCb = Pq.codebookFromRows(res, "cid", "residual", (24L to 31L), m = 2)
        val rCodes = Pq.encode(res, "cid", "residual", rCb)
        Vectors.annRecallReport(truth, Seq(
          "brute" -> Vectors.bruteForceTopK(q, c, k),
          "lsh" -> Vectors.lshTopK(q, c, k),
          "sq8" -> Sq.topK(q, "qid", sqCodes, "cid", sqP, k),
          "pq_adc" -> Pq.adcTopK(q, "qid", pqCodes, "cid", pqCb, k),
          "ivfpq_residual" -> Pq.ivfAdcResidualTopK(q, "qid", ivf, rCodes,
            "cid", rCb, k, nProbe = 4),
          "binary_rerank" -> Vectors.binaryRerankTopK(q, c, k, m = 12),
          // matryoshka serving: the same brute scorer over dimension
          // PREFIXES — the memory/quality frontier of truncated serving
          "trunc32" -> Vectors.bruteForceTopK(
            Vectors.truncateDims(q, "embedding", 32),
            Vectors.truncateDims(c, "embedding", 32), k),
          "trunc16" -> Vectors.bruteForceTopK(
            Vectors.truncateDims(q, "embedding", 16),
            Vectors.truncateDims(c, "embedding", 16), k),
          // ZCA-whitened serving (fit on the corpus side only — queries
          // are transformed with the CORPUS statistics, the deployment
          // shape): how far de-anisotropized cosine moves the ranking
          "whitened" -> {
            val wf = Vectors.whitenFit(c, "embedding")
            Vectors.bruteForceTopK(
              Vectors.whitenApply(q, "embedding", wf),
              Vectors.whitenApply(c, "embedding", wf), k)
          }), k)
      },
      None),

    // Per-pack source mixture after cross-doc packing: how blended are
    // the training sequences the packer emits? groupEntropy over the
    // pack assignment joined back to doc sources; the oracle replays the
    // pack fold (recursive CTE) then the entropy/majority aggregate
    QueryDef("q_pack_mixture",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val units = docs.select(col("doc_id"), lit(0L).as("chunk_idx"),
          Chat.whitespaceTokenCount(col("text")).as("n_tokens"))
        val asg = Text.packAssignments(units, "doc_id",
          maxTokens = 256, nBuckets = 4)
        Profile.groupEntropy(
          asg.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
          Seq("bucket", "pack_idx"), "source")
      },
      Some(s"""WITH RECURSIVE d AS (SELECT doc_id, source,
              |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
              |      x -> x <> '')) AS BIGINT) AS n_tokens,
              |    ${docBucketSql("doc_id", 4)} AS bucket
              |  FROM documents),
              |o AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM d),
              |st AS (
              |  SELECT bucket, doc_id, source, rn, n_tokens,
              |    CAST(0 AS BIGINT) AS pack_idx, n_tokens AS cum
              |  FROM o WHERE rn = 1
              |  UNION ALL
              |  SELECT c.bucket, c.doc_id, c.source, c.rn, c.n_tokens,
              |    CASE WHEN st.cum + c.n_tokens > 256 THEN st.pack_idx + 1 ELSE st.pack_idx END,
              |    CASE WHEN st.cum + c.n_tokens > 256 THEN c.n_tokens ELSE st.cum + c.n_tokens END
              |  FROM st JOIN o c ON c.bucket = st.bucket AND c.rn = st.rn + 1),
              |cnt AS (SELECT bucket, pack_idx, source, COUNT(*) AS n FROM st GROUP BY 1, 2, 3),
              |tot AS (SELECT bucket, pack_idx, CAST(SUM(n) AS BIGINT) AS tot,
              |    COUNT(*) AS n_cats FROM cnt GROUP BY 1, 2),
              |mj AS (SELECT bucket, pack_idx, source, n, ROW_NUMBER() OVER (
              |    PARTITION BY bucket, pack_idx ORDER BY n DESC, source ASC) AS rn FROM cnt)
              |SELECT CAST(c.bucket AS BIGINT) AS bucket, c.pack_idx, t.tot AS n_rows,
              |  CAST(t.n_cats AS BIGINT) AS n_cats,
              |  ROUND(SUM(-(CAST(c.n AS DOUBLE) / t.tot) * LN(CAST(c.n AS DOUBLE) / t.tot)), 6) AS entropy,
              |  MAX(CASE WHEN m.rn = 1 THEN m.source END) AS majority_cat,
              |  ROUND(MAX(CASE WHEN m.rn = 1 THEN CAST(m.n AS DOUBLE) / t.tot END), 6) AS majority_share
              |FROM cnt c JOIN tot t USING(bucket, pack_idx)
              |JOIN mj m ON m.bucket = c.bucket AND m.pack_idx = c.pack_idx AND m.source = c.source
              |GROUP BY c.bucket, c.pack_idx, t.tot, t.n_cats""".stripMargin)),

    // Hard-negative mining: top-k by cosine EXCLUDING each query's known
    // positive (fixture: positive of query q is corpus vector q + 20) —
    // exclusion precedes ranking, so every returned negative is a true
    // next-best candidate, the DPR-style contrastive-training mine
    QueryDef("q_hard_negatives",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding"))
        val pos = q.select(col("qid"), (col("qid") + 20).as("cid"))
        Vectors.hardNegatives(q, pos,
          e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")),
          k = 3)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 20),
              |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 20),
              |sc AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q CROSS JOIN c
              |  WHERE cid <> qid + 20),
              |r AS (SELECT qid, cid, cos,
              |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sc)
              |SELECT qid, cid, cos, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3""".stripMargin)),

    QueryDef("q_ann_lsh",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Vectors.lshTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")),
          k = 3)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe,
              |    ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id < 20),
              |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
              |    ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id >= 20),
              |sc AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q JOIN c USING(bucket)),
              |r AS (SELECT qid, cid, cos,
              |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sc)
              |SELECT qid, cid, cos, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // Multi-probe LSH: query side explodes to the nProbe Hamming-1-adjacent
    // buckets; corpus stays one row per vector. The probe expansion is a
    // pure function of the bucket bits, so the DuckDB oracle expresses it
    // exactly (xor(b, 1<<i)) and the result hash-matches end-to-end;
    // recall-dominance over single-probe is additionally spec-checked.
    QueryDef("q_ann_lsh_multiprobe",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Vectors.lshTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")),
          k = 3, nProbe = 4)
      },
      Some(s"""WITH q0 AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe,
              |    ${bucketSql("embedding")} AS b FROM embeddings WHERE vec_id < 20),
              |q AS (SELECT qid, qe, unnest([b, xor(b, 1), xor(b, 2), xor(b, 4)]) AS bucket FROM q0),
              |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
              |    ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id >= 20),
              |sc AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q JOIN c USING(bucket)),
              |r AS (SELECT qid, cid, cos,
              |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sc)
              |SELECT qid, cid, cos, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // Bucket-packed ANN (the stream-static serving shape): corpus packed
    // one row per LSH bucket, candidates ranked INSIDE the row by array
    // sort/slice — no window, no post-join aggregation, so the same plan
    // serves Structured Streaming query streams (parity spec'd). Output
    // must equal single-probe lshTopK exactly, hence the same oracle.
    QueryDef("q_ann_packed",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val index = Vectors.packedIndex(
          e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")))
        Vectors.packedTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          index, k = 3)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe,
              |    ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id < 20),
              |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
              |    ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id >= 20),
              |sc AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q JOIN c USING(bucket)),
              |r AS (SELECT qid, cid, cos,
              |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sc)
              |SELECT qid, cid, cos, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // IVF ANN at nProbe = nCells: probing every cell makes IVF exactly
    // brute force IF AND ONLY IF the index machinery is correct (KMeans
    // cell assignment must PARTITION the corpus — a lost or duplicated
    // vector breaks the hash match), so the brute-force SQL is a real
    // oracle for the index plumbing end-to-end. The selective-probe path
    // (nProbe < nCells, not SQL-expressible: MLlib KMeans centroids) is
    // covered by the OpsSpec recall spec and the IvfIndex job-count and
    // save/load round-trip specs.
    QueryDef("q_ann_ivf",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Vectors.ivfTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")),
          k = 3, nCells = 8, nProbe = 8)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 20),
              |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 20),
              |sc AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q CROSS JOIN c),
              |r AS (SELECT qid, cid, cos,
              |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sc)
              |SELECT qid, cid, cos, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // Product-quantization ADC search with a DATA-DERIVED codebook (codes
    // = subvectors of corpus rows 20..27, no clustering), so encode +
    // asymmetric-distance ranking is replayable in SQL end-to-end: both
    // engines fold the same left-to-right squared-diff sums, so argmin
    // code ties and rank ties break identically. The KMeans-fit codebook
    // path ([[Pq.fit]]) is spec-covered (recall + compression invariants).
    QueryDef("q_ann_pq_adc",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val corpus = e.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("cid"), col("embedding"))
        val cb = Pq.codebookFromRows(corpus, "cid", "embedding",
          (20L to 27L).toSeq, m = 2)
        val codes = Pq.encode(corpus, "cid", "embedding", cb)
        Pq.adcTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          "qid", codes, "cid", cb, k = 3)
      },
      Some("""WITH cvec AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 20),
             |qvec AS (
             |  SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 20),
             |cent AS (
             |  SELECT j, CAST(vec_id - 20 AS INT) AS code,
             |    v[j*32+1 : j*32+32] AS cv
             |  FROM cvec CROSS JOIN (SELECT unnest(range(0,2)) AS j)
             |  WHERE vec_id BETWEEN 20 AND 27),
             |encd AS (
             |  SELECT cid, j, code FROM (
             |    SELECT c.vec_id AS cid, ct.j, ct.code,
             |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, ct.j ORDER BY
             |        list_sum(list_transform(list_zip(c.v[ct.j*32+1 : ct.j*32+32], ct.cv),
             |          x -> (x[1]-x[2])*(x[1]-x[2]))), ct.code) AS rn
             |    FROM cvec c CROSS JOIN cent ct) WHERE rn = 1),
             |qd AS (
             |  SELECT q.qid, ct.j, ct.code,
             |    list_sum(list_transform(list_zip(q.v[ct.j*32+1 : ct.j*32+32], ct.cv),
             |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
             |  FROM qvec q CROSS JOIN cent ct),
             |ad AS (
             |  SELECT q0.qid, e0.cid, ROUND(q0.d2 + q1.d2, 6) AS ad2
             |  FROM (SELECT cid, code FROM encd WHERE j = 0) e0
             |  JOIN (SELECT cid, code FROM encd WHERE j = 1) e1 USING (cid)
             |  JOIN (SELECT qid, code, d2 FROM qd WHERE j = 0) q0 ON q0.code = e0.code
             |  JOIN (SELECT qid, code, d2 FROM qd WHERE j = 1) q1
             |    ON q1.code = e1.code AND q1.qid = q0.qid),
             |r AS (SELECT qid, cid, ad2,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ad2, cid) AS rnk FROM ad)
             |SELECT qid, cid, ad2, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // Johnson–Lindenstrauss sketch search: both sides projected 64→16 dims
    // through the deterministic ±1 Rademacher matrix (MMIX LCG, same
    // generator builds the SQL literals), exact cosine ranking over the
    // sketches. Fold order is left-to-right on both engines, so projected
    // coordinates, cosines, and rank ties hash-match exactly.
    // RESIDUAL IVF-PQ (the FAISS IVFADC structure), fully deterministic:
    // IVF centroids = corpus rows 20..23, residual codebook = rows 24..31's
    // residuals — assignment, residual arithmetic, encode and ADC all
    // replay in SQL, so the canonical billion-scale ANN layout is
    // hash-checked end-to-end (full probe; the probe ORDER is pinned by
    // q_ann_ivf's oracle already)
    QueryDef("q_ann_ivfpq_residual",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val corpus = e.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("cid"), col("embedding"))
        val cents = corpus.filter(col("cid") <= 23).orderBy("cid")
          .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
        val ivf = graft.ops.IvfIndex.fromCentroids(cents, corpus, "cid", "embedding")
        val res = Pq.residuals(ivf.assigned, "embedding", cents)
        val cb = Pq.codebookFromRows(res, "cid", "residual", (24L to 31L), m = 2)
        val codes = Pq.encode(res, "cid", "residual", cb)
        Pq.ivfAdcResidualTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          "qid", ivf, codes, "cid", cb, k = 3, nProbe = 4)
      },
      Some("""WITH cvec AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 20),
             |qvec AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 20),
             |ivfc AS (SELECT CAST(cid - 20 AS INT) AS cell, v AS cv FROM cvec WHERE cid BETWEEN 20 AND 23),
             |casg AS (SELECT cid, cell FROM (
             |    SELECT c.cid, f.cell,
             |      ROW_NUMBER() OVER (PARTITION BY c.cid ORDER BY
             |        list_sum(list_transform(list_zip(c.v, f.cv), x -> (x[1]-x[2])*(x[1]-x[2]))), f.cell) AS rn
             |    FROM cvec c CROSS JOIN ivfc f) WHERE rn = 1),
             |cres AS (SELECT c.cid, a.cell,
             |    list_transform(list_zip(c.v, f.cv), x -> x[1]-x[2]) AS r
             |  FROM cvec c JOIN casg a ON a.cid = c.cid JOIN ivfc f ON f.cell = a.cell),
             |cent AS (SELECT j, CAST(cr.cid - 24 AS INT) AS code, cr.r[j*32+1 : j*32+32] AS cv
             |  FROM cres cr CROSS JOIN (SELECT unnest(range(0,2)) AS j)
             |  WHERE cr.cid BETWEEN 24 AND 31),
             |encd AS (SELECT cid, j, code FROM (
             |    SELECT cr.cid, ct.j, ct.code,
             |      ROW_NUMBER() OVER (PARTITION BY cr.cid, ct.j ORDER BY
             |        list_sum(list_transform(list_zip(cr.r[ct.j*32+1 : ct.j*32+32], ct.cv),
             |          x -> (x[1]-x[2])*(x[1]-x[2]))), ct.code) AS rn
             |    FROM cres cr CROSS JOIN cent ct) WHERE rn = 1),
             |qres AS (SELECT q.qid, f.cell,
             |    list_transform(list_zip(q.v, f.cv), x -> x[1]-x[2]) AS r
             |  FROM qvec q CROSS JOIN ivfc f),
             |qd AS (SELECT qr.qid, qr.cell, ct.j, ct.code,
             |    list_sum(list_transform(list_zip(qr.r[ct.j*32+1 : ct.j*32+32], ct.cv),
             |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
             |  FROM qres qr CROSS JOIN cent ct),
             |ad AS (SELECT q0.qid, e0.cid, ROUND(q0.d2 + q1.d2, 6) AS ad2
             |  FROM (SELECT cid, code FROM encd WHERE j = 0) e0
             |  JOIN (SELECT cid, code FROM encd WHERE j = 1) e1 USING (cid)
             |  JOIN casg a ON a.cid = e0.cid
             |  JOIN (SELECT qid, cell, code, d2 FROM qd WHERE j = 0) q0
             |    ON q0.code = e0.code AND q0.cell = a.cell
             |  JOIN (SELECT qid, cell, code, d2 FROM qd WHERE j = 1) q1
             |    ON q1.code = e1.code AND q1.qid = q0.qid AND q1.cell = a.cell),
             |r AS (SELECT qid, cid, ad2,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ad2, cid) AS rnk FROM ad)
             |SELECT qid, cid, ad2, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    QueryDef("q_ann_rp",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Vectors.rpTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")),
          k = 3, dOut = 16)
      },
      Some {
        val mat = Vectors.projectionMatrix(64, 16)
        def projSql(v: String) = "[" + mat.map { row =>
          val lits = row.map(x => if (x > 0) "1.0" else "-1.0").mkString(",")
          s"list_sum(list_transform(list_zip($v, [$lits]), x -> x[1]*x[2]))"
        }.mkString(",\n      ") + "]"
        s"""WITH q AS (SELECT vec_id AS qid,
           |    ${projSql("embedding::DOUBLE[]")} AS qe
           |  FROM embeddings WHERE vec_id < 20),
           |c AS (SELECT vec_id AS cid,
           |    ${projSql("embedding::DOUBLE[]")} AS ce
           |  FROM embeddings WHERE vec_id >= 20),
           |sc AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM q CROSS JOIN c),
           |r AS (SELECT qid, cid, cos,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sc)
           |SELECT qid, cid, cos, rnk FROM r WHERE rnk <= 3""".stripMargin
      }),

    // Scalar quantization (SQ8) search: per-dimension (min,max) fit over
    // the corpus -> 1-byte-per-dim codes -> mid-rise decode -> squared-L2
    // ranking. UNLIKE PQ, the fit itself is exact min/max aggregation, so
    // the ENTIRE pipeline (fit + encode + decode + rank) replays in SQL
    // and hash-matches — no data-derived-codebook workaround needed. Both
    // engines evaluate ((x-mn)/span)*255, clamp, and fold the same
    // left-to-right squared-diff sum, so codes, distances and rank ties
    // are bit-identical.
    QueryDef("q_ann_sq8",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val corpus = e.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("cid"), col("embedding"))
        val p = Sq.fit(corpus)
        val codes = Sq.encode(corpus, "cid", "embedding", p)
        Sq.topK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          "qid", codes, "cid", p, k = 3)
      },
      Some("""WITH cvec AS (
             |  SELECT vec_id AS cid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 20),
             |qvec AS (
             |  SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 20),
             |dims AS (SELECT unnest(range(1, 65)) AS i),
             |stats AS (
             |  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
             |  FROM cvec CROSS JOIN dims GROUP BY i),
             |prm AS (
             |  SELECT list(mn ORDER BY i) AS mnl, list(mx - mn ORDER BY i) AS spanl
             |  FROM stats),
             |enc AS (
             |  SELECT cid, list_transform(list_zip(v, mnl, spanl),
             |    x -> CASE WHEN x[3] = 0 THEN 0
             |         ELSE CAST(least(greatest(floor((x[1] - x[2]) / x[3] * 255), 0), 255) AS INT)
             |         END) AS codes
             |  FROM cvec CROSS JOIN prm),
             |dec AS (
             |  SELECT cid, list_transform(list_zip(codes, mnl, spanl),
             |    x -> x[2] + (CAST(x[1] AS DOUBLE) + 0.5) * x[3] / 255) AS dv
             |  FROM enc CROSS JOIN prm),
             |sc AS (
             |  SELECT qid, cid,
             |    ROUND(list_sum(list_transform(list_zip(q.v, dv),
             |      x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) AS d2
             |  FROM qvec q CROSS JOIN dec),
             |r AS (SELECT qid, cid, d2,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cid) AS rnk FROM sc)
             |SELECT qid, cid, d2, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // Binary-quantization ANN: 64 sign bits per vector (32x compression),
    // Hamming scan to an m-candidate pool, exact cosine rerank of the
    // survivors — the coarse-then-exact split every modern vector store
    // runs first. Codes, XOR+popcount distances and both rank stages are
    // exact integer/tie-broken arithmetic, so the WHOLE two-stage path
    // hash-matches the SQL replay; recall (= brute force at m = |corpus|)
    // is additionally spec-checked in OpsSpec.
    QueryDef("q_ann_binary_rerank",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Vectors.binaryRerankTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")),
          k = 3, m = 12)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe,
              |    ${binCodeSql("(embedding::DOUBLE[])")} AS qc FROM embeddings WHERE vec_id < 20),
              |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
              |    ${binCodeSql("(embedding::DOUBLE[])")} AS cc FROM embeddings WHERE vec_id >= 20),
              |hm AS (SELECT qid, cid, CAST(${hammingSql("qc", "cc")} AS BIGINT) AS ham
              |  FROM q CROSS JOIN c),
              |cand AS (SELECT qid, cid, ham,
              |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, cid) AS hr FROM hm),
              |rr AS (SELECT cand.qid, cand.cid, cand.ham, ${cosSql("qe", "ce")} AS cos
              |  FROM cand JOIN q USING (qid) JOIN c USING (cid) WHERE hr <= 12),
              |r AS (SELECT qid, cid, ham, cos,
              |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM rr)
              |SELECT qid, cid, ham, cos, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // Group mean-pooling: renormalized per-group embedding centroids
    // emitted sparse — chunk->doc / member->cluster aggregation for
    // cosine geometry; avg + renormalize replay verbatim in SQL
    QueryDef("q_embed_mean_pool",
      (s, dir) => Vectors.meanPool(
        Tables.load(s, dir, "embeddings")
          .select((col("vec_id") % 50).as("grp"), col("embedding")),
        "grp", "embedding"),
      Some("""WITH e AS (SELECT vec_id % 50 AS grp, embedding::DOUBLE[] AS v FROM embeddings),
             |x AS (SELECT grp, i - 1 AS dim_idx, v[CAST(i AS INT)] AS val
             |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
             |m AS (SELECT grp, dim_idx, AVG(val) AS mv FROM x GROUP BY 1, 2),
             |n AS (SELECT grp, dim_idx, mv, SUM(mv * mv) OVER (PARTITION BY grp) AS ss FROM m)
             |SELECT grp, CAST(dim_idx AS BIGINT) AS dim_idx,
             |  CASE WHEN ss = 0 THEN 0.0 ELSE ROUND(mv / sqrt(ss), 6) END AS val
             |FROM n""".stripMargin)),

    // F5 embeddings joined back to an entity profile (segmentation/pandas.py:382-408)
    QueryDef("q_f5_embed_profile",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val cust = Tables.load(s, dir, "customer")
        e.join(cust, e("vec_id") === cust("c_custkey"), "inner")
          .select(col("vec_id"), col("label").cast("long").as("label"), col("c_mktsegment"))
      },
      Some("""SELECT vec_id, CAST(label AS BIGINT) AS label, c_mktsegment
             |FROM embeddings e JOIN customer c ON e.vec_id = c.c_custkey""".stripMargin)),

    // --- multimodal plumbing --------------------------------------------

    // Frame sampling: media rows -> frame rows inside one typed
    // mapPartitions (stub codec, real 1->N batch shape). The stub codec's
    // frame arithmetic — frame count, stride/cap selection, rotating-offset
    // byte slice — is pure integer math, so the projection (frame length +
    // unsigned byte sum) hash-matches a DuckDB oracle that re-derives every
    // frame byte from hex(payload); the float feature path stays
    // spec-covered (OpsSpec).
    QueryDef("q_multimodal_frames",
      (s, dir) => {
        import s.implicits._
        val frames = Multimodal.sampleFrames(s,
          Multimodal.withBinaryPayload(Tables.load(s, dir, "documents"), "text"),
          "doc_id")
        frames.select(col("doc_id"), col("frame_idx"), col("frame_bytes"))
          .as[(Long, Long, Array[Byte])]
          .map { case (d, fi, b) =>
            (d, fi, b.length.toLong, b.foldLeft(0L)((a, x) => a + (x & 0xFF)))
          }
          .toDF("doc_id", "frame_idx", "frame_byte_len", "byte_sum")
      },
      Some("""WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS len FROM documents),
             |f AS (SELECT doc_id, hx, len, len % 30 + 1 AS nf FROM d),
             |fr AS (SELECT doc_id, hx, len, unnest(range(0, nf, 2)) AS fi FROM f),
             |cap AS (SELECT doc_id, hx, len, fi,
             |    CASE WHEN len > 0 THEN (fi * 2654435761) % len ELSE 0 END AS o
             |  FROM fr WHERE fi < 16),
             |byt AS (SELECT doc_id, fi, len, o, hx, unnest(range(least(64, len))) AS i FROM cap),
             |v AS (SELECT doc_id, fi,
             |    (strpos('0123456789ABCDEF', substr(hx, 2*(((o+i)%len)+1) - 1, 1)) - 1) * 16
             |    + (strpos('0123456789ABCDEF', substr(hx, 2*(((o+i)%len)+1), 1)) - 1) AS b
             |  FROM byt),
             |agg AS (SELECT doc_id, fi, SUM(b) AS s FROM v GROUP BY doc_id, fi)
             |SELECT c.doc_id, CAST(c.fi AS BIGINT) AS frame_idx,
             |  CAST(least(64, c.len) AS BIGINT) AS frame_byte_len,
             |  CAST(COALESCE(a.s, 0) AS BIGINT) AS byte_sum
             |FROM cap c LEFT JOIN agg a ON a.doc_id = c.doc_id AND a.fi = c.fi""".stripMargin)),

    // Frame-level exact dedup: every 10th doc's payload is replaced by a
    // fixed boiler string, so its stub-decoded frames are byte-identical
    // across those docs — the oracle re-derives each frame as a rotation
    // of the payload hex and groups on md5 of that hex, exactly the
    // operator's hash (Spark hex(binary) and DuckDB hex(blob) agree)
    QueryDef("q_multimodal_frame_dedup",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 10 === 9, lit("frame dedup boiler payload"))
            .otherwise(col("text")))
        Multimodal.dedupFrames(
          Multimodal.sampleFrames(s,
            Multimodal.withBinaryPayload(seeded, "text"), "doc_id"),
          "doc_id")
      },
      Some("""WITH d0 AS (SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 9 THEN 'frame dedup boiler payload' ELSE text END AS t
             |  FROM documents),
             |d AS (SELECT doc_id, hex(encode(t)) AS hx,
             |    CAST(octet_length(encode(t)) AS BIGINT) AS len FROM d0),
             |f AS (SELECT doc_id, hx, len, len % 30 + 1 AS nf FROM d),
             |fr AS (SELECT doc_id, hx, len, unnest(range(0, nf, 2)) AS fi FROM f),
             |cap AS (SELECT doc_id, hx, len, fi,
             |    CASE WHEN len > 0 THEN (fi * 2654435761) % len ELSE 0 END AS o
             |  FROM fr WHERE fi < 16),
             |fh AS (SELECT doc_id, fi, least(64, len) AS fblen,
             |    substr(substr(hx, CAST(2*o + 1 AS INT)) || substr(hx, 1, CAST(2*o AS INT)),
             |      1, CAST(2*least(64, len) AS INT)) AS fhex
             |  FROM cap WHERE len > 0),
             |r AS (SELECT md5(fhex) AS frame_hash, doc_id, fi, fblen,
             |    ROW_NUMBER() OVER (PARTITION BY md5(fhex) ORDER BY doc_id, fi) AS rn,
             |    COUNT(*) OVER (PARTITION BY md5(fhex)) AS n
             |  FROM fh)
             |SELECT frame_hash, CAST(n AS BIGINT) AS n_frames, doc_id AS canon_doc,
             |  CAST(fi AS BIGINT) AS canon_frame, CAST(fblen AS BIGINT) AS frame_byte_len
             |FROM r WHERE rn = 1 AND n >= 2""".stripMargin)),

    // Perceptual average-hash (aHash): decoder luma grid -> 8x8 mean-
    // threshold bits -> 4 x 16-bit packed words (binaryCode layout).
    // Under the stub codec the luma grid is the leading 64 payload bytes
    // zero-padded, so the whole hash — hex byte extraction, cross-
    // multiplied mean threshold (no division), high-to-low pack fold —
    // replays in DuckDB integer arithmetic and hash-matches.
    QueryDef("q_multimodal_phash",
      (s, dir) => {
        val ph = Multimodal.perceptualHash(s,
          Multimodal.withBinaryPayload(Tables.load(s, dir, "documents"), "text"), "doc_id")
        ph.select(col("doc_id"), posexplode(col("pcode")).as(Seq("word_idx", "word")))
          .select(col("doc_id"), col("word_idx").cast("long").as("word_idx"), col("word"))
      },
      Some(s"""WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
              |    octet_length(encode(text)) AS len FROM documents),
              |b AS (SELECT doc_id, i,
              |    CASE WHEN i <= len THEN
              |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
              |      + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i AS INT), 1)) - 1)
              |    ELSE 0 END AS bv
              |  FROM d CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
              |s AS (SELECT doc_id, list(bv ORDER BY i) AS bl, sum(bv) AS sm
              |  FROM b GROUP BY doc_id),
              |w AS (SELECT doc_id, [${phashWordsSql("bl", "sm")}] AS pl FROM s)
              |SELECT doc_id, CAST(i - 1 AS BIGINT) AS word_idx, pl[CAST(i AS INT)] AS word
              |FROM w CROSS JOIN (SELECT unnest(range(1, 5)) AS i)""".stripMargin)),

    // Perceptual near-dup pairs: banded Hamming search over the packed
    // aHash codes (pigeonhole-exact for maxDist < nWords — the blocked
    // equi-join provably equals the all-pairs scan the oracle runs).
    // Every 10th doc gets a fixed >= 64-byte boiler prefix, so its
    // stub-codec hash is entirely the prefix's: a guaranteed ham = 0
    // clique plus whatever near-identical-prefix pairs occur naturally.
    QueryDef("q_multimodal_phash_dedup",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 10 === 9, concat(lit(PhashBoiler), col("text")))
            .otherwise(col("text")))
        Multimodal.phashNearDup(
          Multimodal.perceptualHash(s,
            Multimodal.withBinaryPayload(seeded, "text"), "doc_id"),
          "doc_id", maxDist = 3)
      },
      Some(s"""WITH d0 AS (SELECT doc_id,
              |    CASE WHEN doc_id % 10 = 9 THEN '$PhashBoiler' || text ELSE text END AS t
              |  FROM documents),
              |d AS (SELECT doc_id, hex(encode(t)) AS hx,
              |    octet_length(encode(t)) AS len FROM d0),
              |b AS (SELECT doc_id, i,
              |    CASE WHEN i <= len THEN
              |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
              |      + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i AS INT), 1)) - 1)
              |    ELSE 0 END AS bv
              |  FROM d CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
              |s AS (SELECT doc_id, list(bv ORDER BY i) AS bl, sum(bv) AS sm
              |  FROM b GROUP BY doc_id),
              |w AS (SELECT doc_id, [${phashWordsSql("bl", "sm")}] AS pl FROM s),
              |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    CAST(${hammingSql("a.pl", "b.pl")} AS BIGINT) AS ham
              |  FROM w a JOIN w b ON a.doc_id < b.doc_id)
              |SELECT doc_a, doc_b, ham FROM p WHERE ham <= 3""".stripMargin)),

    // Media admission against a persisted phash band index: docs with
    // id % 3 = 0 arrive as the new batch, the rest are the index; the
    // boiler seeding guarantees cross-side matches. The oracle rebuilds
    // every hash and scans new x index pairs — the banded admission must
    // agree exactly (pigeonhole, below cap)
    QueryDef("q_multimodal_admit",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 10 === 9, concat(lit(PhashBoiler), col("text")))
            .otherwise(col("text")))
        val withPayload = Multimodal.withBinaryPayload(seeded, "text")
        val index = Multimodal.phashBandIndex(
          Multimodal.perceptualHash(s,
            withPayload.filter(col("doc_id") % 3 =!= 0), "doc_id"), "doc_id")
        Multimodal.phashAdmit(
          withPayload.filter(col("doc_id") % 3 === 0), index, "doc_id",
          maxDist = 3)
      },
      Some(phashAdmitOracleSql)),

    // The same admission as a PACKED stream-static plan: one row per
    // (band, word) bucket, 4 left joins + in-row folds, no post-join
    // aggregation — identical verdicts, same oracle
    QueryDef("q_multimodal_admit_packed",
      (s, dir) => {
        val seeded = Tables.load(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 10 === 9, concat(lit(PhashBoiler), col("text")))
            .otherwise(col("text")))
        val withPayload = Multimodal.withBinaryPayload(seeded, "text")
        val packed = Multimodal.packedPhashIndex(
          Multimodal.phashBandIndex(
            Multimodal.perceptualHash(s,
              withPayload.filter(col("doc_id") % 3 =!= 0), "doc_id"), "doc_id"),
          "doc_id")
        Multimodal.phashAdmitPacked(
          withPayload.filter(col("doc_id") % 3 === 0), packed, "doc_id",
          maxDist = 3)
      },
      Some(phashAdmitOracleSql)),

    QueryDef("q_multimodal_meta",
      (s, dir) => Multimodal.decodeMetadata(s,
        Multimodal.withBinaryPayload(Tables.load(s, dir, "documents"), "text"), "doc_id"),
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             |  CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
             |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS height,
             |  CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS n_frames
             |FROM documents""".stripMargin)),

    // --- ranked retrieval ------------------------------------------------

    QueryDef("q_bm25_search",
      (s, dir) => Search.bm25TopK(Tables.load(s, dir, "documents"),
        "text", "doc_id", Bm25Queries, k = 10),
      Some(bm25OracleSql)),

    // The same retrieval served from a SAVED SearchIndex (fit+save happens
    // once per sf dir, on the warm-up pass; timed passes read the
    // term-clustered on-disk postings — the production repeated-query
    // shape, zero corpus tokenization per batch). Results are identical
    // to q_bm25_search, so the same oracle grades both.
    QueryDef("q_bm25_prebuilt",
      (s, dir) => {
        import s.implicits._
        Search.bm25TopKIdx(prebuiltIndex(s, dir),
          Bm25Queries.toDF("query_id", "qtext"), k = 10)
      },
      Some(bm25OracleSql)),

    // Dirichlet query-likelihood retrieval (Zhai-Lafferty 2001): the
    // language-modeling ranking family next to BM25 — candidate form
    // sum qtf*ln(1 + tf*T/(mu*cf)) + m_q*ln(mu/(dl+mu)), OOV query
    // terms dropped (p(t|C) = 0, the standard convention). Same pruned-
    // postings scale shape as BM25; the oracle replays the formula
    // term for term.
    QueryDef("q_ql_search",
      (s, dir) => Search.qlTopK(Tables.load(s, dir, "documents"),
        "text", "doc_id", Bm25Queries, k = 10),
      Some(qlOracleSql)),

    // QL served from the saved SearchIndex (see q_bm25_prebuilt) —
    // identical results, same oracle.
    QueryDef("q_ql_prebuilt",
      (s, dir) => {
        import s.implicits._
        Search.qlTopKIdx(prebuiltIndex(s, dir),
          Bm25Queries.toDF("query_id", "qtext"), k = 10)
      },
      Some(qlOracleSql)),

    // RM3 pseudo-relevance feedback: BM25 pass-1 -> RM1 term weights from
    // the top-5 feedback docs (rounded before the top-3 cut, so the
    // selection is engine-stable) -> lambda-interpolated weighted
    // re-scoring; the oracle replays BOTH passes
    QueryDef("q_bm25_rm3",
      (s, dir) => Search.rm3TopK(Tables.load(s, dir, "documents"),
        "text", "doc_id", Bm25Queries, k = 10),
      Some(rm3OracleSql)),

    // RM3 served from the saved index (see q_bm25_prebuilt)
    QueryDef("q_bm25_rm3_prebuilt",
      (s, dir) => {
        import s.implicits._
        Search.rm3TopKIdx(prebuiltIndex(s, dir),
          Bm25Queries.toDF("query_id", "qtext"), k = 10)
      },
      Some(rm3OracleSql)),

    // Retrieval evaluation: Recall@10 / MRR@10 / nDCG@10 of the BM25 run
    // against graded term-containment qrels (rel = #{of the query's first
    // two terms contained}) — ranking, judging and grading all replay in
    // SQL, so the metrics hash-match end-to-end
    QueryDef("q_retrieval_metrics",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val ranked = Search.bm25TopK(docs, "text", "doc_id", Bm25Queries, k = 10)
        val qrels = Bm25Queries.map { case (qid, qtext) =>
          val ts = qtext.split(" ")
          docs.select(lit(qid).as("query_id"), col("doc_id"),
            ((when(instr(lower(col("text")), ts(0)) > 0, 1).otherwise(0)) +
             (when(instr(lower(col("text")), ts(1)) > 0, 1).otherwise(0))).as("rel"))
        }.reduce(_ unionByName _).filter(col("rel") > 0)
        Search.rankingMetrics(ranked, qrels, k = 10)
      },
      Some {
        val vals = Bm25Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
        val rels = Bm25Queries.map { case (i, t) =>
          val ts = t.split(" ")
          s"($i, '${ts(0)}', '${ts(1)}')"
        }.mkString(", ")
        s"""WITH q(query_id, qtext) AS (VALUES $vals),
           |qt AS (SELECT DISTINCT query_id,
           |    unnest(list_filter(regexp_split_to_array(lower(qtext), '\\s+'), x -> x <> '')) AS term
           |  FROM q),
           |base AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ts
           |  FROM documents),
           |stats AS (SELECT COUNT(*) AS n_docs, AVG(len(ts)) AS avgdl FROM base),
           |post0 AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM base),
           |p AS (SELECT term, doc_id, dl, COUNT(*) AS tf FROM post0 GROUP BY 1, 2, 3),
           |cand AS (SELECT * FROM p WHERE term IN (SELECT term FROM qt)),
           |dft AS (SELECT term, COUNT(*) AS df_t FROM cand GROUP BY 1),
           |sc AS (SELECT qt.query_id, c.doc_id,
           |    ROUND(SUM(ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
           |      * (c.tf * 2.2 / (c.tf + 1.2 * (0.25 + 0.75 * c.dl / s.avgdl)))), 6) AS score
           |  FROM cand c JOIN qt ON qt.term = c.term JOIN dft d ON d.term = c.term
           |  CROSS JOIN stats s
           |  GROUP BY 1, 2),
           |r AS (SELECT query_id, doc_id, score,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
           |  FROM sc),
           |topk AS (SELECT query_id, doc_id, CAST(rk AS DOUBLE) AS rk FROM r WHERE rk <= 10),
           |qr(query_id, t1, t2) AS (VALUES $rels),
           |qrels AS (SELECT query_id, doc_id, CAST(rel AS DOUBLE) AS rel FROM (
           |    SELECT qr.query_id, d.doc_id,
           |      (CASE WHEN strpos(lower(d.text), t1) > 0 THEN 1 ELSE 0 END +
           |       CASE WHEN strpos(lower(d.text), t2) > 0 THEN 1 ELSE 0 END) AS rel
           |    FROM documents d CROSS JOIN qr) WHERE rel > 0),
           |hits AS (SELECT t.query_id, COUNT(*) AS h, MIN(t.rk) AS minrk,
           |    SUM((POW(2, rel) - 1) / log2(t.rk + 1)) AS dcg
           |  FROM topk t JOIN qrels USING(query_id, doc_id) GROUP BY 1),
           |ideal AS (SELECT query_id,
           |    SUM((POW(2, rel) - 1) / log2(irk + 1)) AS idcg
           |  FROM (SELECT query_id, rel, CAST(ROW_NUMBER() OVER (
           |      PARTITION BY query_id ORDER BY rel DESC, doc_id) AS DOUBLE) AS irk
           |    FROM qrels) WHERE irk <= 10 GROUP BY 1),
           |nr AS (SELECT query_id, COUNT(*) AS n_rel FROM qrels GROUP BY 1)
           |SELECT nr.query_id, CAST(nr.n_rel AS BIGINT) AS n_rel,
           |  ROUND(CAST(COALESCE(h, 0) AS DOUBLE) / nr.n_rel, 6) AS recall_k,
           |  ROUND(COALESCE(1.0 / minrk, 0.0), 6) AS mrr_k,
           |  ROUND(COALESCE(dcg, 0.0) / idcg, 6) AS ndcg_k
           |FROM nr JOIN ideal USING(query_id) LEFT JOIN hits USING(query_id)""".stripMargin
      }),

    // Hybrid retrieval: BM25 over the document corpus ⊕ dense cosine over
    // the embeddings, fused with reciprocal-rank fusion (1/(60+rank) per
    // system, full-outer on (query, doc), re-ranked). The fused score is a
    // fixed-order two-term sum of exactly-replayable doubles, so the whole
    // hybrid stack hash-matches end-to-end. Queries are docs/vectors 0..2;
    // the candidate corpus is ids >= 20 (disjoint from the queries).
    QueryDef("q_hybrid_rrf",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val emb = Tables.load(s, dir, "embeddings")
        val sparse = Search.bm25TopKDf(
          docs.filter(col("doc_id") >= 20), "text", "doc_id",
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text").as("qtext")),
          k = 20)
          .select(col("query_id"), col("doc_id"), col("rk"))
        val dense = Vectors.bruteForceTopK(
          emb.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding")),
          emb.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")),
          k = 20)
          .select(col("qid").as("query_id"), col("cid").as("doc_id"), col("rnk").as("rk"))
        Search.rrfFuse(Seq(sparse, dense), "query_id", "doc_id", "rk", k = 10)
      },
      Some(s"""WITH q AS (SELECT doc_id AS query_id, text AS qtext FROM documents WHERE doc_id < 3),
              |qt AS (SELECT DISTINCT query_id,
              |    unnest(list_filter(regexp_split_to_array(lower(qtext), '\\s+'), x -> x <> '')) AS term
              |  FROM q),
              |base AS (SELECT doc_id,
              |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ts
              |  FROM documents WHERE doc_id >= 20),
              |stats AS (SELECT COUNT(*) AS n_docs, AVG(len(ts)) AS avgdl FROM base),
              |post0 AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM base),
              |p AS (SELECT term, doc_id, dl, COUNT(*) AS tf FROM post0 GROUP BY 1, 2, 3),
              |cand AS (SELECT * FROM p WHERE term IN (SELECT term FROM qt)),
              |dft AS (SELECT term, COUNT(*) AS df_t FROM cand GROUP BY 1),
              |sp AS (SELECT qt.query_id, c.doc_id,
              |    ROUND(SUM(ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
              |      * (c.tf * 2.2 / (c.tf + 1.2 * (0.25 + 0.75 * c.dl / s.avgdl)))), 6) AS score
              |  FROM cand c JOIN qt ON qt.term = c.term JOIN dft d ON d.term = c.term
              |  CROSS JOIN stats s GROUP BY 1, 2),
              |spr AS (SELECT query_id, doc_id,
              |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
              |  FROM sp),
              |sp20 AS (SELECT query_id, doc_id, rk FROM spr WHERE rk <= 20),
              |qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 3),
              |cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 20),
              |dsc AS (SELECT query_id, doc_id, ${cosSql("qe", "ce")} AS cos FROM qv CROSS JOIN cv),
              |dr AS (SELECT query_id, doc_id,
              |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rk
              |  FROM dsc),
              |d20 AS (SELECT query_id, doc_id, rk FROM dr WHERE rk <= 20),
              |fz AS (SELECT query_id, doc_id,
              |    ROUND(COALESCE(1.0 / (60 + s.rk), 0) + COALESCE(1.0 / (60 + de.rk), 0), 6) AS rrf
              |  FROM sp20 s FULL OUTER JOIN d20 de USING (query_id, doc_id)),
              |r AS (SELECT query_id, doc_id, rrf,
              |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
              |  FROM fz)
              |SELECT query_id, doc_id, rrf, rk FROM r WHERE rk <= 10""".stripMargin)),

    QueryDef("q_tfidf_keywords",
      (s, dir) => Search.tfidfKeywords(Tables.load(s, dir, "documents"),
        "text", "doc_id", k = 3),
      Some("""WITH base AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ts
             |  FROM documents),
             |post0 AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM base),
             |p AS (SELECT term, doc_id, dl, COUNT(*) AS tf FROM post0 GROUP BY 1, 2, 3),
             |stats AS (SELECT COUNT(*) AS n_docs FROM documents),
             |dft AS (SELECT term, COUNT(*) AS df_t FROM p GROUP BY 1),
             |sc AS (SELECT p.doc_id, p.term,
             |    ROUND(p.tf * ln(CAST(s.n_docs AS DOUBLE) / d.df_t), 6) AS tfidf
             |  FROM p JOIN dft d ON d.term = p.term CROSS JOIN stats s),
             |r AS (SELECT doc_id, term, tfidf,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
             |  FROM sc)
             |SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk FROM r WHERE rk <= 3""".stripMargin)),

    QueryDef("q_term_pmi",
      (s, dir) => Search.termPmi(Tables.load(s, dir, "documents"),
        "text", "doc_id", minDf = 5, topPairs = 50),
      Some("""WITH t AS (SELECT doc_id,
             |    list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS ts
             |  FROM documents),
             |n AS (SELECT COUNT(*) AS n FROM documents),
             |e AS (SELECT doc_id, unnest(ts) AS term FROM t),
             |ca AS (SELECT term, COUNT(*) AS c FROM e GROUP BY 1 HAVING COUNT(*) >= 5),
             |k AS (SELECT e.doc_id, e.term FROM e JOIN ca USING(term)),
             |p AS (SELECT x.term AS term_a, y.term AS term_b, COUNT(*) AS c_ab
             |  FROM k x JOIN k y ON x.doc_id = y.doc_id AND x.term < y.term
             |  GROUP BY 1, 2),
             |s AS (SELECT term_a, term_b,
             |    ROUND(ln(CAST(n.n AS DOUBLE) * c_ab / (a.c * b.c)), 6) AS pmi
             |  FROM p JOIN ca a ON a.term = p.term_a
             |  JOIN ca b ON b.term = p.term_b CROSS JOIN n)
             |SELECT term_a, term_b, pmi FROM s
             |ORDER BY pmi DESC, term_a, term_b LIMIT 50""".stripMargin)),

    // Instruction-data ingestion: a deterministic 3-turn JSON conversation
    // is synthesized per document (every 7th doc gets a role-order defect),
    // then parsed under the ENFORCED turn schema, alternation-validated,
    // and rendered to the chat template. The oracle rebuilds the same JSON
    // and replays parse/validate/render through DuckDB's JSON operators —
    // so Spark's from_json + HOF pipeline is hash-checked end-to-end.
    QueryDef("q_chat_flatten",
      (s, dir) => {
        val ts = split(lower(col("text")), "\\s+")
        val c1 = concat(lit("please summarize: "), array_join(slice(ts, 1, 8), " "))
        val c2 = array_join(slice(ts, 1, 5), " ")
        val r1 = when(col("doc_id") % 7 === 0, lit("assistant")).otherwise(lit("user"))
        val js = concat(
          lit("[{\"role\":\""), r1, lit("\",\"content\":\""), c1,
          lit("\"},{\"role\":\"assistant\",\"content\":\""), c2,
          lit("\"},{\"role\":\"user\",\"content\":\"thanks\"}]"))
        Chat.flatten(
          Tables.load(s, dir, "documents").withColumn("conv_json", js),
          "conv_json", "doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ts FROM documents),
             |b AS (SELECT doc_id,
             |    'please summarize: ' || array_to_string(ts[1:8], ' ') AS c1,
             |    array_to_string(ts[1:5], ' ') AS c2,
             |    CASE WHEN doc_id % 7 = 0 THEN 'assistant' ELSE 'user' END AS r1
             |  FROM t),
             |j AS (SELECT doc_id,
             |    '[{"role":"' || r1 || '","content":"' || c1 ||
             |    '"},{"role":"assistant","content":"' || c2 ||
             |    '"},{"role":"user","content":"thanks"}]' AS js
             |  FROM b)
             |SELECT doc_id,
             |  CAST(json_array_length(js) AS BIGINT) AS n_turns,
             |  ((js->>'$[0].role') = 'user' AND (js->>'$[1].role') = 'assistant'
             |    AND (js->>'$[2].role') = 'user') AS valid,
             |  '<|' || (js->>'$[0].role') || '|>' || (js->>'$[0].content') || chr(10) ||
             |  '<|' || (js->>'$[1].role') || '|>' || (js->>'$[1].content') || chr(10) ||
             |  '<|' || (js->>'$[2].role') || '|>' || (js->>'$[2].content') AS chat_text
             |FROM j""".stripMargin)),

    // SFT loss-mask spans over the same seeded conversations: per
    // assistant turn, the half-open char span of its content inside the
    // rendered template — integer prefix-sum arithmetic, replayed in SQL
    // with a per-turn window sum over json-extracted lengths
    QueryDef("q_chat_loss_mask",
      (s, dir) => {
        val ts = split(lower(col("text")), "\\s+")
        val c1 = concat(lit("please summarize: "), array_join(slice(ts, 1, 8), " "))
        val c2 = array_join(slice(ts, 1, 5), " ")
        val r1 = when(col("doc_id") % 7 === 0, lit("assistant")).otherwise(lit("user"))
        val js = concat(
          lit("[{\"role\":\""), r1, lit("\",\"content\":\""), c1,
          lit("\"},{\"role\":\"assistant\",\"content\":\""), c2,
          lit("\"},{\"role\":\"user\",\"content\":\"thanks\"}]"))
        Chat.lossMaskSpans(
          Tables.load(s, dir, "documents").withColumn("conv_json", js),
          "conv_json", "doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ts FROM documents),
             |b AS (SELECT doc_id,
             |    'please summarize: ' || array_to_string(ts[1:8], ' ') AS c1,
             |    array_to_string(ts[1:5], ' ') AS c2,
             |    CASE WHEN doc_id % 7 = 0 THEN 'assistant' ELSE 'user' END AS r1
             |  FROM t),
             |j AS (SELECT doc_id,
             |    '[{"role":"' || r1 || '","content":"' || c1 ||
             |    '"},{"role":"assistant","content":"' || c2 ||
             |    '"},{"role":"user","content":"thanks"}]' AS js
             |  FROM b WHERE r1 = 'user'),
             |u AS (SELECT doc_id, js,
             |    unnest(generate_series(0, CAST(json_array_length(js) AS INT) - 1)) AS i
             |  FROM j),
             |seg AS (SELECT doc_id, i,
             |    json_extract_string(js, '$[' || i || '].role') AS role,
             |    json_extract_string(js, '$[' || i || '].content') AS content
             |  FROM u),
             |l AS (SELECT doc_id, i, role, content,
             |    length(role) + length(content) + 4 AS seg_len FROM seg),
             |o AS (SELECT doc_id, i, role, content,
             |    COALESCE(SUM(seg_len) OVER (PARTITION BY doc_id ORDER BY i
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + i AS seg_start
             |  FROM l)
             |SELECT doc_id, CAST(i AS BIGINT) AS turn_idx,
             |  CAST(seg_start + length(role) + 4 AS BIGINT) AS span_start,
             |  CAST(seg_start + length(role) + 4 + length(content) AS BIGINT) AS span_end
             |FROM o WHERE role = 'assistant'""".stripMargin)),

    // Char->token alignment under BPE: the q_chat_loss_mask CHAR spans
    // joined back onto the rendered chat_text and mapped to SUBWORD
    // coordinates by prefix token counts (token_end = bpe tokens of the
    // prefix up to span_end; token_start additionally rounds down when the
    // span edge falls mid-token) — the operator that lets char-level
    // annotations drive a subword loss mask. The oracle replays the same
    // two prefix tokenizations with the replace-chain BPE
    QueryDef("q_sft_char_align_bpe",
      (s, dir) => {
        val ts = split(lower(col("text")), "\\s+")
        val c1 = concat(lit("please summarize: "), array_join(slice(ts, 1, 8), " "))
        val c2 = array_join(slice(ts, 1, 5), " ")
        val r1 = when(col("doc_id") % 7 === 0, lit("assistant")).otherwise(lit("user"))
        val js = concat(
          lit("[{\"role\":\""), r1, lit("\",\"content\":\""), c1,
          lit("\"},{\"role\":\"assistant\",\"content\":\""), c2,
          lit("\"},{\"role\":\"user\",\"content\":\"thanks\"}]"))
        val docs = Tables.load(s, dir, "documents").withColumn("conv_json", js)
        val chat = Chat.flatten(docs, "conv_json", "doc_id")
          .filter(col("valid")).select(col("doc_id"), col("chat_text"))
        val spans = Chat.lossMaskSpans(docs, "conv_json", "doc_id")
        Chat.alignCharSpansToTokens(
            spans.join(chat, Seq("doc_id")), "chat_text",
            tokenCount = c => Bpe.tokenCountCol(c, Bpe.FixedEnglishMerges))
          .select(col("doc_id"), col("turn_idx"), col("span_start"),
            col("span_end"), col("token_start"), col("token_end"))
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
              |b AS (SELECT doc_id,
              |    'please summarize: ' || array_to_string(ts[1:8], ' ') AS c1,
              |    array_to_string(ts[1:5], ' ') AS c2,
              |    CASE WHEN doc_id % 7 = 0 THEN 'assistant' ELSE 'user' END AS r1
              |  FROM t),
              |j AS (SELECT doc_id,
              |    '[{"role":"' || r1 || '","content":"' || c1 ||
              |    '"},{"role":"assistant","content":"' || c2 ||
              |    '"},{"role":"user","content":"thanks"}]' AS js
              |  FROM b WHERE r1 = 'user'),
              |c AS (SELECT doc_id,
              |    '<|' || (js->>'$$[0].role') || '|>' || (js->>'$$[0].content') || chr(10) ||
              |    '<|' || (js->>'$$[1].role') || '|>' || (js->>'$$[1].content') || chr(10) ||
              |    '<|' || (js->>'$$[2].role') || '|>' || (js->>'$$[2].content') AS chat_text,
              |    js FROM j),
              |u AS (SELECT doc_id, js,
              |    unnest(generate_series(0, CAST(json_array_length(js) AS INT) - 1)) AS i
              |  FROM j),
              |seg AS (SELECT doc_id, i,
              |    json_extract_string(js, '$$[' || i || '].role') AS role,
              |    json_extract_string(js, '$$[' || i || '].content') AS content
              |  FROM u),
              |l AS (SELECT doc_id, i, role, content,
              |    length(role) + length(content) + 4 AS seg_len FROM seg),
              |o AS (SELECT doc_id, i, role, content,
              |    COALESCE(SUM(seg_len) OVER (PARTITION BY doc_id ORDER BY i
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + i AS seg_start
              |  FROM l),
              |sp AS (SELECT doc_id, CAST(i AS BIGINT) AS turn_idx,
              |    CAST(seg_start + length(role) + 4 AS BIGINT) AS span_start,
              |    CAST(seg_start + length(role) + 4 + length(content) AS BIGINT) AS span_end
              |  FROM o WHERE role = 'assistant'),
              |a AS (SELECT sp.doc_id, sp.turn_idx, sp.span_start, sp.span_end, c.chat_text
              |  FROM sp JOIN c ON c.doc_id = sp.doc_id)
              |SELECT doc_id, turn_idx, span_start, span_end,
              |  CAST(len(${bpeToksSql("substr(chat_text, 1, CAST(span_start AS INT))")})
              |    - CASE WHEN span_start > 0
              |        AND regexp_matches(substr(chat_text, CAST(span_start AS INT), 1), '^\\S$$')
              |        AND regexp_matches(substr(chat_text, CAST(span_start AS INT) + 1, 1), '^\\S$$')
              |      THEN 1 ELSE 0 END AS BIGINT) AS token_start,
              |  CAST(len(${bpeToksSql("substr(chat_text, 1, CAST(span_end AS INT))")}) AS BIGINT) AS token_end
              |FROM a""".stripMargin)),

    // TOKEN-level SFT spans (whitespace tokenizer): per turn, the
    // half-open token range of its `<|role|>content` segment in the
    // concatenated sequence + the is_target flag — the collator contract
    // trainers consume directly. Same seeded conversations; the oracle
    // prefix-sums per-segment token counts with a window
    QueryDef("q_sft_token_spans",
      (s, dir) => {
        val ts = split(lower(col("text")), "\\s+")
        val c1 = concat(lit("please summarize: "), array_join(slice(ts, 1, 8), " "))
        val c2 = array_join(slice(ts, 1, 5), " ")
        val r1 = when(col("doc_id") % 7 === 0, lit("assistant")).otherwise(lit("user"))
        val js = concat(
          lit("[{\"role\":\""), r1, lit("\",\"content\":\""), c1,
          lit("\"},{\"role\":\"assistant\",\"content\":\""), c2,
          lit("\"},{\"role\":\"user\",\"content\":\"thanks\"}]"))
        Chat.sftTokenSpans(
          Tables.load(s, dir, "documents").withColumn("conv_json", js),
          "conv_json", "doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ts FROM documents),
             |b AS (SELECT doc_id,
             |    'please summarize: ' || array_to_string(ts[1:8], ' ') AS c1,
             |    array_to_string(ts[1:5], ' ') AS c2,
             |    CASE WHEN doc_id % 7 = 0 THEN 'assistant' ELSE 'user' END AS r1
             |  FROM t),
             |j AS (SELECT doc_id,
             |    '[{"role":"' || r1 || '","content":"' || c1 ||
             |    '"},{"role":"assistant","content":"' || c2 ||
             |    '"},{"role":"user","content":"thanks"}]' AS js
             |  FROM b WHERE r1 = 'user'),
             |u AS (SELECT doc_id, js,
             |    unnest(generate_series(0, CAST(json_array_length(js) AS INT) - 1)) AS i
             |  FROM j),
             |seg AS (SELECT doc_id, i,
             |    json_extract_string(js, '$[' || i || '].role') AS role,
             |    json_extract_string(js, '$[' || i || '].content') AS content
             |  FROM u),
             |l AS (SELECT doc_id, i, role,
             |    CAST(len(list_filter(regexp_split_to_array(
             |      lower('<|' || role || '|>' || content), '\s+'), x -> x <> '')) AS BIGINT) AS cnt
             |  FROM seg),
             |o AS (SELECT doc_id, i, role, cnt,
             |    COALESCE(SUM(cnt) OVER (PARTITION BY doc_id ORDER BY i
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
             |  FROM l)
             |SELECT doc_id, CAST(i AS BIGINT) AS turn_idx, role,
             |  CAST(tok_start AS BIGINT) AS token_start,
             |  CAST(tok_start + cnt AS BIGINT) AS token_end,
             |  role = 'assistant' AS is_target
             |FROM o""".stripMargin)),

    // The same spans under the BPE tokenizer (Bpe.tokenCountCol — the
    // pure-Catalyst replace-chain twin of Bpe.tokenize), so the mask is in
    // REAL subword units; the oracle swaps in the replace-chain token list
    QueryDef("q_sft_token_spans_bpe",
      (s, dir) => {
        val ts = split(lower(col("text")), "\\s+")
        val c1 = concat(lit("please summarize: "), array_join(slice(ts, 1, 8), " "))
        val c2 = array_join(slice(ts, 1, 5), " ")
        val r1 = when(col("doc_id") % 7 === 0, lit("assistant")).otherwise(lit("user"))
        val js = concat(
          lit("[{\"role\":\""), r1, lit("\",\"content\":\""), c1,
          lit("\"},{\"role\":\"assistant\",\"content\":\""), c2,
          lit("\"},{\"role\":\"user\",\"content\":\"thanks\"}]"))
        Chat.sftTokenSpans(
          Tables.load(s, dir, "documents").withColumn("conv_json", js),
          "conv_json", "doc_id",
          tokenCount = c => Bpe.tokenCountCol(c, Bpe.FixedEnglishMerges))
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
             |b AS (SELECT doc_id,
             |    'please summarize: ' || array_to_string(ts[1:8], ' ') AS c1,
             |    array_to_string(ts[1:5], ' ') AS c2,
             |    CASE WHEN doc_id % 7 = 0 THEN 'assistant' ELSE 'user' END AS r1
             |  FROM t),
             |j AS (SELECT doc_id,
             |    '[{"role":"' || r1 || '","content":"' || c1 ||
             |    '"},{"role":"assistant","content":"' || c2 ||
             |    '"},{"role":"user","content":"thanks"}]' AS js
             |  FROM b WHERE r1 = 'user'),
             |u AS (SELECT doc_id, js,
             |    unnest(generate_series(0, CAST(json_array_length(js) AS INT) - 1)) AS i
             |  FROM j),
             |seg AS (SELECT doc_id, i,
             |    json_extract_string(js, '$$[' || i || '].role') AS role,
             |    json_extract_string(js, '$$[' || i || '].content') AS content
             |  FROM u),
             |l AS (SELECT doc_id, i, role,
             |    CAST(len(${bpeToksSql("'<|' || role || '|>' || content")}) AS BIGINT) AS cnt
             |  FROM seg),
             |o AS (SELECT doc_id, i, role, cnt,
             |    COALESCE(SUM(cnt) OVER (PARTITION BY doc_id ORDER BY i
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
             |  FROM l)
             |SELECT doc_id, CAST(i AS BIGINT) AS turn_idx, role,
             |  CAST(tok_start AS BIGINT) AS token_start,
             |  CAST(tok_start + cnt AS BIGINT) AS token_end,
             |  role = 'assistant' AS is_target
             |FROM o""".stripMargin)),

    // SFT example packing with span remap: valid conversations pack
    // cross-doc into 64-token sequences (each conversation = one unit);
    // every assistant turn's token span is shifted by its conversation's
    // token_offset into PACKED coordinates — the exact loss mask a packed
    // trainer consumes. packAssignments' per-chunk offsets are replayed by
    // the same recursive-CTE fold as the pack oracles, cum minus n_tokens
    QueryDef("q_chat_pack_spans",
      (s, dir) => {
        val ts = split(lower(col("text")), "\\s+")
        val c1 = concat(lit("please summarize: "), array_join(slice(ts, 1, 8), " "))
        val c2 = array_join(slice(ts, 1, 5), " ")
        val r1 = when(col("doc_id") % 7 === 0, lit("assistant")).otherwise(lit("user"))
        val js = concat(
          lit("[{\"role\":\""), r1, lit("\",\"content\":\""), c1,
          lit("\"},{\"role\":\"assistant\",\"content\":\""), c2,
          lit("\"},{\"role\":\"user\",\"content\":\"thanks\"}]"))
        val docs = Tables.load(s, dir, "documents").withColumn("conv_json", js)
        val convs = Chat.flatten(docs, "conv_json", "doc_id")
          .filter(col("valid"))
          .select(col("doc_id"), lit(0L).as("chunk_idx"),
            Chat.whitespaceTokenCount(col("chat_text")).as("n_tokens"))
        val asg = Text.packAssignments(convs, "doc_id",
          maxTokens = 64, nBuckets = 4)
        Chat.sftTokenSpans(docs, "conv_json", "doc_id")
          .filter(col("is_target"))
          .join(asg.select(col("doc_id"), col("bucket"), col("pack_idx"),
            col("token_offset")), Seq("doc_id"))
          .select(col("doc_id"), col("turn_idx"), col("bucket"), col("pack_idx"),
            (col("token_offset") + col("token_start")).as("packed_start"),
            (col("token_offset") + col("token_end")).as("packed_end"))
      },
      Some(s"""WITH RECURSIVE t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
             |b AS (SELECT doc_id,
             |    'please summarize: ' || array_to_string(ts[1:8], ' ') AS c1,
             |    array_to_string(ts[1:5], ' ') AS c2,
             |    CASE WHEN doc_id % 7 = 0 THEN 'assistant' ELSE 'user' END AS r1
             |  FROM t),
             |j AS (SELECT doc_id,
             |    '[{"role":"' || r1 || '","content":"' || c1 ||
             |    '"},{"role":"assistant","content":"' || c2 ||
             |    '"},{"role":"user","content":"thanks"}]' AS js
             |  FROM b WHERE r1 = 'user'),
             |c AS (SELECT doc_id,
             |    '<|' || (js->>'$$[0].role') || '|>' || (js->>'$$[0].content') || chr(10) ||
             |    '<|' || (js->>'$$[1].role') || '|>' || (js->>'$$[1].content') || chr(10) ||
             |    '<|' || (js->>'$$[2].role') || '|>' || (js->>'$$[2].content') AS chat_text,
             |    js FROM j),
             |ck AS (SELECT doc_id, js,
             |    CAST(len(list_filter(regexp_split_to_array(lower(chat_text), '\\s+'),
             |      x -> x <> '')) AS BIGINT) AS n_tokens,
             |    ${docBucketSql("doc_id", 4)} AS bucket
             |  FROM c),
             |o AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM ck),
             |st AS (
             |  SELECT bucket, doc_id, rn, n_tokens, CAST(0 AS BIGINT) AS pack_idx, n_tokens AS cum
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT c2.bucket, c2.doc_id, c2.rn, c2.n_tokens,
             |    CASE WHEN st.cum + c2.n_tokens > 64 THEN st.pack_idx + 1 ELSE st.pack_idx END,
             |    CASE WHEN st.cum + c2.n_tokens > 64 THEN c2.n_tokens ELSE st.cum + c2.n_tokens END
             |  FROM st JOIN o c2 ON c2.bucket = st.bucket AND c2.rn = st.rn + 1),
             |asg AS (SELECT doc_id, bucket, pack_idx, cum - n_tokens AS token_offset FROM st),
             |u AS (SELECT doc_id, js,
             |    unnest(generate_series(0, CAST(json_array_length(js) AS INT) - 1)) AS i
             |  FROM j),
             |seg AS (SELECT doc_id, i,
             |    json_extract_string(js, '$$[' || i || '].role') AS role,
             |    json_extract_string(js, '$$[' || i || '].content') AS content
             |  FROM u),
             |l AS (SELECT doc_id, i, role,
             |    CAST(len(list_filter(regexp_split_to_array(
             |      lower('<|' || role || '|>' || content), '\\s+'), x -> x <> '')) AS BIGINT) AS cnt
             |  FROM seg),
             |sp AS (SELECT doc_id, i, role, cnt,
             |    COALESCE(SUM(cnt) OVER (PARTITION BY doc_id ORDER BY i
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
             |  FROM l)
             |SELECT sp.doc_id, CAST(sp.i AS BIGINT) AS turn_idx, asg.bucket,
             |  asg.pack_idx,
             |  CAST(asg.token_offset + sp.tok_start AS BIGINT) AS packed_start,
             |  CAST(asg.token_offset + sp.tok_start + sp.cnt AS BIGINT) AS packed_end
             |FROM sp JOIN asg ON asg.doc_id = sp.doc_id
             |WHERE sp.role = 'assistant'""".stripMargin)),

    // Preference-pair (DPO/RLHF) prep: documents grouped into 50 "prompt"
    // buckets act as candidate completions; per prompt the highest-scored
    // candidate (n_chars; ties -> min id) is chosen, the lowest (ties ->
    // max id) rejected. One max_by/min_by groupBy — no window, no self-join
    QueryDef("q_preference_pairs",
      (s, dir) => Chat.preferencePairs(
        Tables.load(s, dir, "documents")
          .withColumn("prompt_id", col("doc_id") % 50),
        "prompt_id", "doc_id", "n_chars"),
      Some("""WITH cand AS (SELECT doc_id % 50 AS prompt_id, doc_id,
             |    CAST(n_chars AS DOUBLE) AS s FROM documents),
             |r AS (SELECT prompt_id, doc_id, s,
             |    ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY s DESC, doc_id ASC) AS rb,
             |    ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY s ASC, doc_id DESC) AS rw,
             |    COUNT(*) OVER (PARTITION BY prompt_id) AS n
             |  FROM cand)
             |SELECT b.prompt_id, b.doc_id AS chosen_id, w.doc_id AS rejected_id,
             |  b.s AS chosen_score, w.s AS rejected_score,
             |  ROUND(b.s - w.s, 6) AS margin
             |FROM (SELECT * FROM r WHERE rb = 1) b
             |JOIN (SELECT * FROM r WHERE rw = 1) w USING(prompt_id)
             |WHERE b.n >= 2 AND b.doc_id <> w.doc_id
             |  AND ROUND(b.s - w.s, 6) >= 0.0""".stripMargin)),

    // Bradley–Terry strengths over pairwise outcomes (3 MM iterations,
    // mean-1 rescale): the global ordering a preference corpus implies.
    // Fixture comparisons: consecutive per-user events, winner = the
    // event type holding the larger value (equal values/types skipped) —
    // both sides derive the identical outcome table, then the oracle
    // unrolls the MM updates as chained CTEs.
    QueryDef("q_bradley_terry",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val o = Tables.load(s, dir, "events")
          .withColumn("nt", lead(col("event_type"), 1).over(w))
          .withColumn("nv", lead(col("value"), 1).over(w))
          .filter(col("nt").isNotNull && col("value") =!= col("nv") &&
            col("event_type") =!= col("nt"))
          .select(
            when(col("value") > col("nv"), col("event_type"))
              .otherwise(col("nt")).as("winner"),
            when(col("value") > col("nv"), col("nt"))
              .otherwise(col("event_type")).as("loser"))
        Rank.bradleyTerry(o, "winner", "loser", iterations = 3)
      },
      Some {
        val iters = (1 to 3).map { i =>
          s"""d$i AS (SELECT s.i AS id, SUM(s.n / (ti.th + tj.th)) AS d
             |  FROM sym s JOIN t${i - 1} ti ON ti.id = s.i
             |  JOIN t${i - 1} tj ON tj.id = s.j GROUP BY 1),
             |r$i AS (SELECT w.id, CASE WHEN w.wins = 0 OR d.d IS NULL
             |    THEN 0.0 ELSE w.wins / d.d END AS th
             |  FROM wins w LEFT JOIN d$i d USING(id)),
             |t$i AS (SELECT id,
             |    th * (SELECT COUNT(*) * 1.0 / SUM(th) FROM r$i) AS th
             |  FROM r$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH o AS (SELECT event_type, value,
           |    LEAD(event_type) OVER w AS nt, LEAD(value) OVER w AS nv
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |ev AS (SELECT CASE WHEN value > nv THEN event_type ELSE nt END AS w,
           |    CASE WHEN value > nv THEN nt ELSE event_type END AS l
           |  FROM o WHERE nt IS NOT NULL AND value <> nv AND event_type <> nt),
           |ents AS (SELECT DISTINCT w AS id FROM ev UNION SELECT l FROM ev),
           |wins AS (SELECT e.id, CAST(COALESCE(x.c, 0) AS BIGINT) AS wins
           |  FROM ents e LEFT JOIN (SELECT w AS id, COUNT(*) AS c FROM ev
           |    GROUP BY 1) x USING(id)),
           |p AS (SELECT least(w, l) AS a, greatest(w, l) AS b, COUNT(*) AS n
           |  FROM ev GROUP BY 1, 2),
           |sym AS (SELECT a AS i, b AS j, n FROM p
           |        UNION ALL SELECT b, a, n FROM p),
           |games AS (SELECT i AS id, CAST(SUM(n) AS BIGINT) AS games
           |  FROM sym GROUP BY 1),
           |t0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS th FROM ents),
           |$iters
           |SELECT t3.id AS entity, ROUND(t3.th, 6) AS strength,
           |  wins.wins, games.games
           |FROM t3 JOIN wins USING(id) JOIN games USING(id)""".stripMargin
      }),

    // Count-min-sketch heavy hitters over the event stream's user keys:
    // depth-3 × width-256 salted-md5 sketch, estimate = min over rows,
    // threshold + (est desc, key) ranking. The sketch hashes, cell
    // counters and min-probe all replay exactly in SQL (same md5-nibble
    // primitive as docBucket), so estimates — including any collision
    // overshoot — hash-match.
    QueryDef("q_heavy_hitters",
      (s, dir) => Sketch.heavyHitters(Tables.load(s, dir, "events"),
        "user_id", minCount = 70L),
      Some(s"""WITH x AS (SELECT user_id, unnest(range(0, 3)) AS j FROM events),
              |c AS (SELECT j, ${md5Val16Sql("user_id || '#cms' || j")} % 256 AS cell,
              |    COUNT(*) AS cnt
              |  FROM x GROUP BY 1, 2),
              |k AS (SELECT DISTINCT user_id FROM events),
              |p AS (SELECT user_id, unnest(range(0, 3)) AS j FROM k),
              |pc AS (SELECT user_id, j,
              |    ${md5Val16Sql("user_id || '#cms' || j")} % 256 AS cell FROM p),
              |est AS (SELECT user_id, MIN(COALESCE(c.cnt, 0)) AS est
              |  FROM pc LEFT JOIN c ON c.j = pc.j AND c.cell = pc.cell GROUP BY 1)
              |SELECT user_id, est FROM est WHERE est >= 70""".stripMargin)),

    QueryDef("q_text_entropy",
      (s, dir) => Text.charEntropy(Tables.load(s, dir, "documents"), "text", "doc_id"),
      Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
             |  FROM documents WHERE length(text) > 0),
             |c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2)
             |SELECT doc_id,
             |  ROUND(ln(CAST(SUM(c) AS DOUBLE)) / ln(2.0)
             |    - SUM(c * ln(CAST(c AS DOUBLE)) / ln(2.0)) / CAST(SUM(c) AS DOUBLE),
             |    6) AS entropy_bits
             |FROM c GROUP BY doc_id""".stripMargin))
  )

  /** Fixed BM25 query batch (terms drawn from the generator vocabulary). */
  private val Bm25Queries: Seq[(Int, String)] = Seq(
    0 -> "hash join merge",
    1 -> "vector scan window",
    2 -> "fast stream batch query")

  /** Build-once-per-sfDir saved [[SearchIndex]] under the JVM temp dir
    * ([[graft.core.Prebuilt]]): the warm-up pass of a bench run pays
    * fit+save; timed passes (and Verify) serve the on-disk index — the
    * production repeated-query shape. */
  private def prebuiltIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): SearchIndex =
    SearchIndex.load(s, Prebuilt.dir("searchidx",
        new java.io.File(s"$dir/documents.parquet"),
        Prebuilt.codeToken(SearchIndex.getClass, classOf[SearchIndex])) { idxDir =>
      SearchIndex.fit(Tables.load(s, dir, "documents"), "text", "doc_id")
        .save(idxDir)
    })

  private def bm25OracleSql: String = {
    val vals = Bm25Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""WITH q(query_id, qtext) AS (VALUES $vals),
       |qt AS (SELECT DISTINCT query_id,
       |    unnest(list_filter(regexp_split_to_array(lower(qtext), '\\s+'), x -> x <> '')) AS term
       |  FROM q),
       |base AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |stats AS (SELECT COUNT(*) AS n_docs, AVG(len(ts)) AS avgdl FROM base),
       |post0 AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM base),
       |p AS (SELECT term, doc_id, dl, COUNT(*) AS tf FROM post0 GROUP BY 1, 2, 3),
       |cand AS (SELECT * FROM p WHERE term IN (SELECT term FROM qt)),
       |dft AS (SELECT term, COUNT(*) AS df_t FROM cand GROUP BY 1),
       |sc AS (SELECT qt.query_id, c.doc_id,
       |    ROUND(SUM(ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
       |      * (c.tf * 2.2 / (c.tf + 1.2 * (0.25 + 0.75 * c.dl / s.avgdl)))), 6) AS score
       |  FROM cand c JOIN qt ON qt.term = c.term JOIN dft d ON d.term = c.term
       |  CROSS JOIN stats s
       |  GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
       |  FROM sc)
       |SELECT query_id, doc_id, score, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10""".stripMargin
  }

  private def qlOracleSql: String = {
    val vals = Bm25Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""WITH q(query_id, qtext) AS (VALUES $vals),
       |qt AS (SELECT query_id, term, CAST(COUNT(*) AS BIGINT) AS qtf
       |  FROM (SELECT query_id,
       |      unnest(list_filter(regexp_split_to_array(lower(qtext), '\\s+'), x -> x <> '')) AS term
       |    FROM q) GROUP BY 1, 2),
       |base AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |stats AS (SELECT COUNT(*) AS n_docs, AVG(len(ts)) AS avgdl FROM base),
       |post0 AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM base),
       |p AS (SELECT term, doc_id, dl, COUNT(*) AS tf FROM post0 GROUP BY 1, 2, 3),
       |cand AS (SELECT * FROM p WHERE term IN (SELECT term FROM qt)),
       |cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf_t FROM cand GROUP BY 1),
       |mq AS (SELECT qt.query_id, CAST(SUM(qt.qtf) AS BIGINT) AS m_q
       |  FROM qt JOIN cf USING(term) GROUP BY 1),
       |g AS (SELECT qt.query_id, c.doc_id, MAX(c.dl) AS dl,
       |    SUM(qt.qtf * ln(1.0 + c.tf * (s.n_docs * s.avgdl) / (2000.0 * cf.cf_t))) AS s1
       |  FROM cand c JOIN qt ON qt.term = c.term JOIN cf ON cf.term = c.term
       |  CROSS JOIN stats s GROUP BY 1, 2),
       |sc AS (SELECT g.query_id, g.doc_id,
       |    ROUND(g.s1 + m.m_q * ln(2000.0 / (g.dl + 2000.0)), 6) AS score
       |  FROM g JOIN mq m ON m.query_id = g.query_id),
       |r AS (SELECT query_id, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
       |  FROM sc)
       |SELECT query_id, doc_id, score, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10""".stripMargin
  }

  private def rm3OracleSql: String = {
    val vals = Bm25Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""WITH q(query_id, qtext) AS (VALUES $vals),
       |qt AS (SELECT DISTINCT query_id,
       |    unnest(list_filter(regexp_split_to_array(lower(qtext), '\\s+'), x -> x <> '')) AS term
       |  FROM q),
       |base AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |stats AS (SELECT COUNT(*) AS n_docs, AVG(len(ts)) AS avgdl FROM base),
       |post0 AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM base),
       |p AS (SELECT term, doc_id, dl, COUNT(*) AS tf FROM post0 GROUP BY 1, 2, 3),
       |cand1 AS (SELECT * FROM p WHERE term IN (SELECT term FROM qt)),
       |dft1 AS (SELECT term, COUNT(*) AS df_t FROM cand1 GROUP BY 1),
       |sc1 AS (SELECT qt.query_id, c.doc_id,
       |    ROUND(SUM(ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
       |      * (c.tf * 2.2 / (c.tf + 1.2 * (0.25 + 0.75 * c.dl / s.avgdl)))), 6) AS score
       |  FROM cand1 c JOIN qt ON qt.term = c.term JOIN dft1 d ON d.term = c.term
       |  CROSS JOIN stats s GROUP BY 1, 2),
       |r1 AS (SELECT query_id, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
       |  FROM sc1),
       |fb AS (SELECT r.query_id, p.term,
       |    ROUND(SUM(p.tf * 1.0 / p.dl * r.score), 6) AS w
       |  FROM p JOIN r1 r ON p.doc_id = r.doc_id AND r.rk <= 5
       |  GROUP BY 1, 2),
       |fbx AS (SELECT * FROM fb
       |  WHERE NOT EXISTS (SELECT 1 FROM qt
       |    WHERE qt.query_id = fb.query_id AND qt.term = fb.term)),
       |ew AS (SELECT query_id, term,
       |    0.4 * w / SUM(w) OVER (PARTITION BY query_id) AS qw
       |  FROM (SELECT query_id, term, w, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY w DESC, term) AS r FROM fbx)
       |  WHERE r <= 3),
       |wq AS (SELECT query_id, term, 0.6 AS qw FROM qt
       |  UNION ALL SELECT query_id, term, qw FROM ew),
       |cand2 AS (SELECT * FROM p WHERE term IN (SELECT DISTINCT term FROM wq)),
       |dft2 AS (SELECT term, COUNT(*) AS df_t FROM cand2 GROUP BY 1),
       |sc2 AS (SELECT w.query_id, c.doc_id,
       |    ROUND(SUM(w.qw * ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
       |      * (c.tf * 2.2 / (c.tf + 1.2 * (0.25 + 0.75 * c.dl / s.avgdl)))), 6) AS score
       |  FROM cand2 c JOIN wq w ON w.term = c.term JOIN dft2 d ON d.term = c.term
       |  CROSS JOIN stats s GROUP BY 1, 2)
       |SELECT query_id, doc_id, score, CAST(rk AS INT) AS rk FROM (
       |  SELECT query_id, doc_id, score, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk FROM sc2)
       |WHERE rk <= 10""".stripMargin
  }
}
