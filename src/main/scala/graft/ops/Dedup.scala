package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for LLM training-data pipelines (SURVEY.md §7.5):
 * exact, n-gram Jaccard, MinHash+LSH. SimHash lives in [[Text.simhash16]],
 * embedding-cosine near-dup in [[Vectors.cosineDupPairs]].
 *
 * Scale design: every variant avoids the quadratic all-pairs comparison.
 * Candidate pairs come from an equi-join on a shared key (normalized text,
 * shingle, or LSH band signature) so Spark executes them as shuffled hash
 * joins keyed on that unit — the standard web-scale dedup shape
 * (one shuffle per stage, no broadcast of the corpus, no cartesian).
 */
object Dedup {

  /** Normalized text for exact dedup: lowercase + whitespace collapse.
    * Public so composed reports ([[graft.queries.LlmOps]]' datasheet) key
    * on the SAME content identity the dedup family uses.
    *
    * COMPAT (round 11): the trim/collapse order changed to
    * `trim(regexp_replace(...))` so leading/trailing TABS and NEWLINES
    * are stripped too (Spark `trim` strips spaces only — collapsing
    * first turns them into strippable spaces). This changes the content
    * hash for such texts: persisted artifacts keyed on the old hash —
    * notably [[hashIndex]] tables — will no longer match and must be
    * rebuilt from the corpus after upgrading. */
  def normText(c: String): Column =
    trim(regexp_replace(lower(col(c)), "\\s+", " "))

  /**
   * SimHash near-duplicate PAIRS — completes the SimHash dedup family
   * (signature → pairs): docs whose 16-bit [[Text.simhash16]] signatures
   * are within `maxDist` Hamming bits. Banded like the perceptual-hash
   * operator: the signature splits into 4 nibbles and by pigeonhole two
   * signatures at distance <= maxDist < 4 agree on at least one whole
   * nibble, so candidates are an equi-join on (band, nibble) and the
   * blocking is EXACT (spec pins banding == quadratic scan); candidates
   * verify with the full XOR+popcount distance.
   *
   * 16 bits is a COARSE family — random 16-bit signatures collide at
   * Hamming <= 1 with probability 17/65536, so expect ~n²·1.3e-4 chance
   * pairs alongside the true near-dups; treat the output as a candidate
   * prefilter for an exact verifier ([[ngramJaccardPairs]]), not a
   * verdict. Scale shape: 4 skinny band rows per doc, nibble-keyed
   * equi-join, id-keyed rejoin of 2-byte signatures — bodies never move
   * after the one signature aggregation.
   */
  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 4, "banding is exact only for maxDist < 4")
    val sh = Text.simhash16(df, textCol, idCol)
      .select(col(idCol).as("__id"), col("simhash"))
    val bands = sh.select(col("__id"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("simhash"), 12 - 4 * b).bitwiseAND(lit(15L)).as("nib"))): _*)).as("bk"))
      .select(col("__id"), col("bk.band").as("__band"), col("bk.nib").as("__nib"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.__band") === col("b.__band") && col("a.__nib") === col("b.__nib") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("__id").as("doc_a"), col("simhash").as("__ha")), Seq("doc_a"))
      .join(sh.select(col("__id").as("doc_b"), col("simhash").as("__hb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long").as("ham"))
      .filter(col("ham") <= maxDist)
  }

  /**
   * [[simhashNearDup]] at production scale: 64-bit signatures
   * ([[Text.simhash64]]) banded as 4 x 16-bit words — each band keys on
   * 2¹⁶ buckets instead of the 16-bit variant's 2⁴ nibbles, so candidate
   * sets stay corpus-size-independent (the MinHash-band collision
   * profile) while the pigeonhole exactness for `maxDist < 4` is
   * unchanged. Delegates the banding/verify machinery to
   * [[Multimodal.phashNearDup]] (same packed-word layout).
   */
  def simhashNearDup64(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int): DataFrame =
    Multimodal.phashNearDup(Text.simhash64(df, textCol, idCol), idCol, maxDist)

  /**
   * Exact dedup groups: hash-groupBy on normalized text; keeps the minimum
   * id as the canonical representative. At scale, group on the md5 of the
   * text (shuffles 16 bytes per doc, not the document body).
   */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(normText(textCol)).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** The content-hash index of a corpus — persist this (not the bodies)
    * as the dedup state an incremental ingest checks against. */
  def hashIndex(df: DataFrame, textCol: String): DataFrame =
    df.select(md5(normText(textCol)).as("content_hash")).distinct()

  /** Non-empty trimmed paragraphs of a text column (split on blank
    * lines), the [[graft.functions.RepetitionStats]] conventions. */
  private def parasOf(text: Column): Column =
    filter(transform(split(text, "\n{2,}"),
      p => regexp_replace(p, "^[ \t\n\r\f]+|[ \t\n\r\f]+$", "")),
      p => p =!= lit(""))

  /**
   * Paragraph-grain exact dedup verdicts ACROSS the corpus — the
   * MassiveText/Gopher second dedup pass (docs are deduped whole, then
   * repeated boilerplate PARAGRAPHS are cut everywhere they recur).
   * Each non-empty trimmed paragraph (split on blank lines) is keyed by
   * the md5 of its [[normText]]-normalized content; the canonical copy
   * is the (min doc, min idx) occurrence, every other occurrence is a
   * dup. Output: (doc_id, para_idx, para_hash, is_dup, canon_doc,
   * canon_idx), para_idx 1-based.
   *
   * Scale shape: paragraphs explode to (doc, idx, 16-byte hash) rows —
   * bodies never shuffle. The canonical pick is a groupBy-min on the
   * hash (map-side combined — a boilerplate paragraph repeated 10⁸
   * times partial-aggregates, it does NOT funnel into one window task),
   * joined back on the hash (AQE splits the skewed probe).
   */
  def paragraphDups(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keys = paraKeys(df, textCol, idCol)
    val canon = keys.groupBy(col("para_hash"))
      .agg(min(struct(col("doc_id"), col("para_idx"))).as("__c"))
      .select(col("para_hash"), col("__c.doc_id").as("canon_doc"),
        col("__c.para_idx").as("canon_idx"))
    keys.join(canon, Seq("para_hash"))
      .select(col("doc_id"), col("para_idx"), col("para_hash"),
        (col("canon_doc") =!= col("doc_id") ||
          col("canon_idx") =!= col("para_idx")).as("is_dup"),
        col("canon_doc"), col("canon_idx"))
  }

  /**
   * Cut every non-canonical repeated paragraph out of the corpus — the
   * apply side of [[paragraphDups]]: each doc keeps only paragraphs
   * whose (doc, idx) IS the corpus-wide canonical occurrence of their
   * content, re-joined with blank lines. Output: (doc_id, clean_text,
   * n_paras, n_dropped).
   *
   * Scale shape: the verdict pass shuffles only (doc, idx, hash); the
   * drop-index sets come back as ONE small row per affected doc (ints,
   * not text), and the reconstruction is a narrow array filter over the
   * doc's own paragraph array — the corpus text itself never shuffles
   * (the [[substringCut]] pattern).
   */
  def dropDuplicateParagraphs(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val drops = paragraphDups(df, textCol, idCol)
      .filter(col("is_dup"))
      .groupBy(col("doc_id")).agg(collect_set(col("para_idx")).as("__drop"))
    cutParagraphs(df, textCol, idCol, drops)
  }

  /** Rebuild each doc from its paragraph array minus the 1-based indexes
    * in `drops` (doc_id, __drop: array<long>) — the narrow no-text-shuffle
    * apply side shared by the paragraph-cut family. */
  private def cutParagraphs(df: DataFrame, textCol: String, idCol: String,
      drops: DataFrame): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        parasOf(col(textCol)).as("__ps"))
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(col("__ps"), (x, i) =>
          !array_contains(coalesce(col("__drop"), array().cast("array<bigint>")),
            (i + 1).cast("long"))), "\n\n").as("clean_text"),
        size(col("__ps")).cast("long").as("n_paras"),
        coalesce(size(col("__drop")), lit(0)).cast("long").as("n_dropped"))

  /** (doc_id, para_idx, para_hash) keys of every non-empty paragraph —
    * the narrow exploded form the paragraph-dedup family joins on. */
  private def paraKeys(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(parasOf(col(textCol))).as(Seq("__p0", "__para")))
      .select(col("doc_id"), (col("__p0") + 1).cast("long").as("para_idx"),
        md5(trim(regexp_replace(lower(col("__para")), "\\s+", " "))).as("para_hash"))

  /** Distinct paragraph-content hashes of a corpus — the paragraph-grain
    * [[hashIndex]]: persist THIS (16 bytes per distinct paragraph, never
    * the text) as the state an incremental ingest cuts against. */
  def paragraphHashIndex(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(parasOf(col(textCol))).as("__para"))
      .select(md5(trim(regexp_replace(lower(col("__para")), "\\s+", " ")))
        .as("para_hash"))
      .distinct()

  /**
   * Incremental paragraph cut — the ingest form of
   * [[dropDuplicateParagraphs]]: drop from each new-batch doc every
   * paragraph that is (a) already in the corpus's
   * [[paragraphHashIndex]] or (b) a non-canonical repeat WITHIN the
   * batch. The existing corpus contributes ONLY its 16-byte hashes
   * (never re-read); batch bodies never shuffle (keys explode to
   * (doc, idx, hash), the cut is the row-local array filter) — a daily
   * batch against a 100 TB corpus costs the batch, the
   * [[dedupIncremental]] contract at paragraph grain.
   */
  def dropKnownParagraphs(newDocs: DataFrame, textCol: String, idCol: String,
      index: DataFrame): DataFrame = {
    val batchDups = paragraphDups(newDocs, textCol, idCol)
      .filter(col("is_dup")).select(col("doc_id"), col("para_idx"))
    val known = paraKeys(newDocs, textCol, idCol)
      .join(index, Seq("para_hash"), "left_semi")
      .select(col("doc_id"), col("para_idx"))
    val drops = batchDups.unionByName(known).distinct()
      .groupBy(col("doc_id")).agg(collect_set(col("para_idx")).as("__drop"))
    cutParagraphs(newDocs, textCol, idCol, drops)
  }

  /**
   * Row-local APPROXIMATE paragraph cut against a Bloom sketch of the
   * corpus [[paragraphHashIndex]] — the STREAMING form: no explode, no
   * regroup, no state, so it is append-mode legal and each micro-batch
   * row filters its own paragraph array through the broadcast-sized
   * sketch (the [[dedupIncrementalBloom]] fit-statistic shape; probe is
   * Spark's codegen'd `BloomFilterMightContain` over `xxhash64`).
   *
   * A Bloom filter has NO false negatives: a paragraph the sketch
   * rejects is provably unseen and is kept correctly; the `fpp`
   * fraction of genuinely-novel paragraphs false-positive and are cut —
   * the right trade for boilerplate scrubbing on a live feed, NOT for
   * provenance-critical cuts (use [[dropKnownParagraphs]] there).
   * Within-batch repeats are NOT cut (no cross-row state) — run the
   * exact batch pass at compaction time.
   */
  def dropKnownParagraphsBloom(docs: DataFrame, textCol: String,
      idCol: String, index: DataFrame, expectedItems: Long = 0L,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.CatalystBridge
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val items = if (expectedItems > 0) expectedItems
      else math.max(index.count(), 1L)
    val bf = index.select(xxhash64(col("para_hash")).as("h"))
      .stat.bloomFilter("h", items, fpp)
    val os = new java.io.ByteArrayOutputStream()
    bf.writeTo(os)
    val bytes = os.toByteArray
    def novel(p: Column): Column =
      !CatalystBridge.column(BloomFilterMightContain(
        Literal(bytes), CatalystBridge.expression(xxhash64(
          md5(trim(regexp_replace(lower(p), "\\s+", " ")))))))
    docs.select(col(idCol).cast("long").as("doc_id"),
        parasOf(col(textCol)).as("__ps"))
      .select(col("doc_id"), col("__ps"),
        filter(col("__ps"), p => novel(p)).as("__kept"))
      .select(col("doc_id"),
        array_join(col("__kept"), "\n\n").as("clean_text"),
        size(col("__ps")).cast("long").as("n_paras"),
        (size(col("__ps")) - size(col("__kept"))).cast("long").as("n_dropped"))
  }

  /**
   * Incremental exact dedup: admit only new-batch docs whose content is
   * (a) unseen in the existing corpus's [[hashIndex]] and (b) the
   * canonical (min-id) copy within the batch itself. The ingest path for
   * a continuously-growing corpus: the existing corpus contributes ONLY
   * its 16-byte hashes (never re-read, never re-shuffled); the anti-join
   * keys on the hash, so batch bodies shuffle once at batch size, and a
   * daily batch vs a 100 TB corpus costs the batch, not the corpus.
   */
  def dedupIncremental(newDocs: DataFrame, textCol: String, idCol: String,
      index: DataFrame): DataFrame = {
    val hashed = newDocs.withColumn("content_hash", md5(normText(textCol)))
    val canonical = hashed
      .join(hashed.groupBy("content_hash").agg(min(col(idCol)).as("__keep")),
        "content_hash")
      .filter(col(idCol) === col("__keep")).drop("__keep")
    canonical.join(index, Seq("content_hash"), "left_anti")
      .drop("content_hash")
  }

  /**
   * [[dedupIncremental]] with a Bloom-filter prefilter: semantically
   * IDENTICAL output (spec-pinned equal), but the exact anti-join against
   * the corpus index only sees batch rows the filter could not rule out.
   * A Bloom filter has no false negatives, so rows it rejects are
   * provably unseen and pass straight through; the `fpp` fraction of
   * false positives (plus the true duplicates) is all that reaches the
   * join.
   *
   * Why this matters at 100 TB: the plain anti-join shuffles the WHOLE
   * daily batch against the hash index every ingest. Here the index
   * collapses into a broadcast-sized sketch (~1.2 GiB per 10⁹ docs at
   * fpp 0.01 — tune fpp to the memory you have), built ONCE distributedly
   * (`stat.bloomFilter` runs a treeAggregate over the index and ships
   * back one sketch, the same fit-statistic shape as the IVF centroid
   * table), and the anti-join's probe side shrinks to
   * `dup_rate + fpp` of the batch. The probe itself is Spark's own
   * codegen'd `BloomFilterMightContain` over `xxhash64` — the exact
   * expression pair Spark's runtime row-level filtering injects, riding
   * as a Literal so every executor evaluates it scan-side, zero UDFs.
   *
   * `expectedItems <= 0` sizes the sketch from `index.count()` (cheap:
   * the index is 16-byte hashes, and counting it reads footers, not the
   * corpus).
   */
  def dedupIncrementalBloom(newDocs: DataFrame, textCol: String,
      idCol: String, index: DataFrame, expectedItems: Long = 0L,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.CatalystBridge
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val items = if (expectedItems > 0) expectedItems
      else math.max(index.count(), 1L)
    val bf = index.select(xxhash64(col("content_hash")).as("h"))
      .stat.bloomFilter("h", items, fpp)
    val os = new java.io.ByteArrayOutputStream()
    bf.writeTo(os)
    val bytes = os.toByteArray
    def mightContain(c: org.apache.spark.sql.Column) =
      CatalystBridge.column(BloomFilterMightContain(
        Literal(bytes), CatalystBridge.expression(xxhash64(c))))

    val hashed = newDocs.withColumn("content_hash", md5(normText(textCol)))
    val canonical = hashed
      .join(hashed.groupBy("content_hash").agg(min(col(idCol)).as("__keep")),
        "content_hash")
      .filter(col(idCol) === col("__keep")).drop("__keep")
    val definitelyNew = canonical.filter(!mightContain(col("content_hash")))
    val verifiedNew = canonical.filter(mightContain(col("content_hash")))
      .join(index, Seq("content_hash"), "left_anti")
    definitelyNew.unionByName(verifiedNew).drop("content_hash")
  }

  /**
   * Distinct word n-gram shingles per document (one row per shingle).
   * Built by the codegen'd [[graft.functions.WordShingles]] expression —
   * one imperative pass per document instead of an interpreted
   * higher-order-function lambda per shingle (~100× cheaper map-side),
   * same narrow no-shuffle scan shape.
   */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.WordShingles.wordShingles(col(textCol), n)).as("shingle"))

  /**
   * Eval-set decontamination scan — the n-gram overlap rule of the
   * GPT-3 appendix C / PaLM / Llama decontamination procedures: a
   * training document is contaminated when it shares at least
   * `minShared` word n-grams (n = 13 in the published recipes) with any
   * document of a held-out benchmark probe set. Run it corpus × eval
   * suite BEFORE training and drop (or flag) the hits, or the eval is
   * measuring memorization. Reports every contaminated (doc, probe)
   * pair with its overlap size — provenance for the scrub decision —
   * NOT just a verdict bit; anti-join the doc ids to cut.
   *
   * Scale shape: the corpus side explodes to DISTINCT (doc, n-gram)
   * rows (one narrow codegen'd projection — the [[shingles]] expression
   * with a larger n); the probe side is EVAL-SUITE-sized (thousands of
   * rows, not corpus-sized), so its exploded n-gram table broadcasts
   * and the match is a broadcast hash join the 100 TB corpus streams
   * through with NO shuffle of text or n-grams — the only exchange is
   * the (doc, probe)-grain count aggregate over matched rows, which is
   * hit-sized. A probe set too large to broadcast (full-corpus overlap)
   * is [[ngramJaccardPairs]]/[[containmentPairs]]' job, not this one.
   *
   * Output: (doc_id, probe_id, shared_ngrams) for pairs with
   * shared_ngrams >= minShared; `shared_ngrams` counts DISTINCT shared
   * n-grams (both sides deduplicate before the join).
   */
  def probeContamination(corpus: DataFrame, textCol: String, idCol: String,
      probes: DataFrame, probeTextCol: String, probeIdCol: String,
      n: Int = 13, minShared: Int = 1): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(minShared >= 1, "minShared must be >= 1")
    val c = corpus.select(col(idCol).as("doc_id"),
      explode(graft.functions.WordShingles.wordShingles(col(textCol), n))
        .as("shingle"))
    val p = probes.select(col(probeIdCol).as("probe_id"),
      explode(graft.functions.WordShingles.wordShingles(col(probeTextCol), n))
        .as("shingle"))
    c.join(broadcast(p), "shingle")
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /**
   * N-gram Jaccard near-duplicate pairs: candidate pairs share >= 1 shingle
   * with document frequency <= `maxShingleDf` (equi-join on the shingle),
   * then J = |A∩B| / (|A|+|B|-|A∩B|) >= tau over the FULL shingle sets of
   * the candidates. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
   *
   * The df cap is the skew guard this variant was missing relative to
   * [[minhashLshPairs]]'s `maxBucket`: a boilerplate shingle ("terms of
   * service") with df=d contributes d^2/2 join rows — at corpus scale one
   * hot shingle melts the stage. Shingles above the cap are dropped from
   * the shingle universe entirely (sets, intersections, sizes) — the same
   * approximation family as maxBucket's bucket drop, equivalent to
   * stop-shingle removal; Jaccard is exact over the capped universe. With
   * the cap not binding (the default at moderate scale) the result is
   * identical to uncapped exact Jaccard. Choose the cap from the corpus
   * itself with [[shingleDfCap]] (p99.9 of the shingle df distribution)
   * rather than guessing.
   *
   * Plan shape: the df cap is a groupBy-count over the exploded table
   * (partial hash-aggregation BELOW the exchange — each input partition
   * pre-combines a hot shingle to ONE row, so the reduce side of the
   * count sees at most nPartitions rows per shingle) followed by a
   * BROADCAST anti-join of the over-cap shingle list. The earlier
   * `count(*) OVER (PARTITION BY shingle)` window had the right single-
   * pass shape but funneled a df≈10⁸ boilerplate shingle's rows into one
   * window task before filtering — bounded, but the long pole at 100×
   * scale; the over-cap LIST is tiny by construction (at most
   * totalShingles/cap entries, in practice the handful of boilerplate
   * shingles the cap exists to kill), so it broadcasts. The exploded
   * shingle table is deliberately NOT cached: the explode is a cheap
   * codegen'd pass over the scan, AQE's exchange reuse dedupes the
   * repeated count subtree at runtime, and measured at sf0.1 a cache is
   * a wash or slower (block-store writes outweigh the narrow re-scan)
   * while breaking whole-stage codegen fusion.
   */
  /** Shared front end of the set-overlap pair family: distinct shingles
    * with the df-cap skew guard applied, reduced to unordered-pair
    * intersection counts joined with both per-doc set sizes
    * `(doc_a < doc_b, inter, sz_a, sz_b)`. One copy of the cap logic so
    * [[ngramJaccardPairs]] and [[containmentPairs]] cannot drift.
    *
    * No cache: the explode is a cheap codegen'd pass, and AQE's exchange
    * reuse already dedupes the repeated count subtree at runtime —
    * measured at sf0.1, caching either the exploded table or the
    * over-cap list is a wash or slower than recomputing (block-store
    * writes cost more than the narrow re-scan) while breaking codegen
    * fusion. */
  private def cappedShingleIntersections(df: DataFrame, textCol: String,
      idCol: String, n: Int, maxShingleDf: Int): DataFrame = {
    // Spread a narrower-than-the-machine input across the cores before
    // the shingle explode (identity at corpus scale, where the scan
    // already has >= cores partitions — see [[graft.core.Spread]]): the
    // shingling + both downstream partial aggregates of this family are
    // CPU-bound codegen passes that otherwise run on however few row
    // groups the input happened to have (measured q_dedup_jaccard
    // 3.4 -> 1.5 s at sf0.1, where every table is ONE row group).
    val all = shingles(graft.core.Spread.toCores(df), textCol, idCol, n)
    val overCap = all.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df_n"))
      .filter(col("df_n") > maxShingleDf)
      .select(col("shingle"))
    val sh = all.join(broadcast(overCap), Seq("shingle"), "left_anti")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(idCol).as("doc_a"), col("shingle"))
    val b = sh.select(col(idCol).as("doc_b"), col("shingle"))
    a.join(b, Seq("shingle")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
  }

  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, tau: Double, maxShingleDf: Int = 10000): DataFrame =
    cappedShingleIntersections(df, textCol, idCol, n, maxShingleDf)
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /**
   * ASYMMETRIC containment pairs: C(A→B) = |A∩B|/|A| over distinct word
   * n-gram shingles — the excerpt detector symmetric Jaccard structurally
   * misses. A 50-shingle quote lifted verbatim into a 5000-shingle article
   * scores Jaccard ≈ 0.01 (invisible at any usable τ) but containment
   * 1.0 from the quote's side; news-wire syndication, quote farms and
   * doc-in-doc duplication all look exactly like this (the motivation for
   * containment in Broder 1997, "On the resemblance and containment of
   * documents"). Emits ORDERED pairs `(doc_a, doc_b, containment)` with
   * containment = |A∩B|/|A| ≥ `tau` — doc_a is the (near-)contained side;
   * a pair surviving in both directions is mutual containment (≈ exact
   * dup at equal sizes).
   *
   * Same plan and skew story as [[ngramJaccardPairs]] (shared shingle
   * front door, broadcast df-cap anti-join, ONE intersection join on
   * unordered pairs then scored in both directions — join fan-out
   * identical to the Jaccard variant, not doubled).
   */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, tau: Double, maxShingleDf: Int = 10000): DataFrame = {
    val scored = cappedShingleIntersections(df, textCol, idCol, n, maxShingleDf)
    // both directions via ONE explode, not a self-union: the union's
    // branches would inline (and execute — swapped projections defeat
    // exchange reuse, the Graph.symEdges finding) the whole shingle
    // intersection pipeline twice
    scored
      .select(explode(array(
        struct(col("doc_a"), col("doc_b"),
          round(col("inter").cast("double") / col("sz_a"), 6).as("containment")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
          round(col("inter").cast("double") / col("sz_b"), 6).as("containment"))))
        .as("__c"))
      .select(col("__c.doc_a").as("doc_a"), col("__c.doc_b").as("doc_b"),
        col("__c.containment").as("containment"))
      .filter(col("containment") >= tau)
  }

  /**
   * The apply side of [[containmentPairs]]: drop every document that is
   * ≥ `tau` shingle-contained in a LARGER document (shingle-set size;
   * equal sizes keep the smaller id — the exact-dup tiebreak), keep
   * everything else. The excerpt/syndication cut: a quote page vanishes
   * in favor of the article that contains it, where symmetric-Jaccard
   * dedup would keep both. Chains are safe by construction: if A ⊂ B
   * and B ⊂ C, A is dropped on the A–B verdict regardless of B's own
   * fate, and C (the largest) always survives — one pass, no iteration.
   *
   * Same plan as [[containmentPairs]] (shared capped front end) plus a
   * broadcast-friendly left-anti join of the drop list back onto the
   * corpus — the corpus body itself never shuffles.
   */
  def dropContained(df: DataFrame, textCol: String, idCol: String,
      n: Int, tau: Double, maxShingleDf: Int = 10000): DataFrame = {
    val scored = cappedShingleIntersections(df, textCol, idCol, n, maxShingleDf)
    val dropA = scored
      .filter(round(col("inter").cast("double") / col("sz_a"), 6) >= tau &&
        (col("sz_a") < col("sz_b") ||
          (col("sz_a") === col("sz_b") && col("doc_a") > col("doc_b"))))
      .select(col("doc_a").as(idCol))
    val dropB = scored
      .filter(round(col("inter").cast("double") / col("sz_b"), 6) >= tau &&
        (col("sz_b") < col("sz_a") ||
          (col("sz_a") === col("sz_b") && col("doc_b") > col("doc_a"))))
      .select(col("doc_b").as(idCol))
    df.join(dropA.unionByName(dropB).distinct(), Seq(idCol), "left_anti")
  }

  /**
   * Resolve near-duplicate PAIRS into groups: connected components over
   * the pair graph, each doc labeled with the MINIMUM doc id of its
   * component (the canonical representative — the standard keep-one rule).
   *
   * Algorithm: iterative min-label propagation. Labels start as each doc's
   * own id; every round each doc takes the min of its own label and its
   * neighbors' labels; converges in <= (component diameter) rounds, i.e.
   * O(log n) rounds for the near-clique components dedup produces. Each
   * round is one equi-join + one hash-agg keyed on doc id — the same
   * shuffle shape as the rest of the dedup pipeline, no driver-side graph.
   * Near-dup graphs are overwhelmingly tiny cliques (diameter 1-2), so the
   * loop almost always exits after 2-3 rounds; `maxIter` bounds degenerate
   * chains. Pair inputs are tiny relative to the corpus (they are the
   * near-dup subset), so per-round cost is bounded by the pair count.
   */
  def dedupGroups(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("doc")).distinct()
      .withColumn("lbl", col("doc")).cache()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbr = edges.join(labels, edges("dst") === labels("doc"))
        .select(edges("src").as("doc"), col("lbl"))
      val next = labels.union(nbr)
        .groupBy(col("doc")).agg(min(col("lbl")).as("lbl")).cache()
      val changed = next.join(labels.withColumnRenamed("lbl", "old"), "doc")
        .filter(col("lbl") < col("old")).limit(1).count() > 0
      labels.unpersist(blocking = false)
      labels = next
      converged = !changed
      it += 1
    }
    edges.unpersist(blocking = false)
    // the final labels table is still cached (the loop materialized it for
    // the convergence check); hand it to CacheScope so the blocks are
    // reclaimed once the caller's action completes
    graft.core.CacheScope.autoUnpersist(labels)
      .select(col("doc").as("doc_id"), col("lbl").as("canonical_id"))
  }

  /**
   * Canonical-document selection — the decision step after
   * [[dedupGroups]]: for EVERY corpus doc, keep or drop. Singletons
   * (docs in no near-dup group) always keep; within a group the winner
   * is the member with the highest `prefer` value (a quality score,
   * length, …), ties broken by ascending id — so the policy is
   * deterministic and engine-independent. Output: (id, group_id — NULL
   * for singletons, kept).
   *
   * Scale shape: `groups` is the near-dup subset (tiny vs the corpus),
   * so the member frame is built with a broadcast join, the ranking
   * window shuffles MEMBERS ONLY, and the final decision is a second
   * broadcast join back onto the corpus — the full corpus is never
   * shuffled.
   */
  def resolveDuplicates(df: DataFrame, groups: DataFrame, idCol: String,
      prefer: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groups.select(col("doc_id").as("__gid"), col("canonical_id"))
    val members = df.select(col(idCol), prefer.as("__pref"))
      .join(broadcast(g), col(idCol) === col("__gid"))
      .select(col(idCol).as("__mid"), col("canonical_id"), col("__pref"))
    val ranked = members.withColumn("__rk", row_number().over(
      Window.partitionBy(col("canonical_id"))
        .orderBy(col("__pref").desc, col("__mid").asc)))
      .select(col("__mid"), col("canonical_id"),
        (col("__rk") === 1).as("__kept"))
    df.select(col(idCol))
      .join(broadcast(ranked), col(idCol) === col("__mid"), "left")
      .select(col(idCol), col("canonical_id").as("group_id"),
        coalesce(col("__kept"), lit(true)).as("kept"))
  }

  /**
   * SOFT dedup: instead of dropping duplicates, weight every doc by the
   * inverse of its near-dup group size (singletons 1.0) — the
   * SlimPajama-style alternative to [[resolveDuplicates]]'s hard
   * keep/drop when repeated content should still contribute, just not n
   * times. Weights feed sampling ([[Text.mixCorpus]]-style) or per-example
   * loss scaling downstream.
   *
   * Same broadcast shape as [[resolveDuplicates]]: the group table (the
   * tiny near-dup subset) broadcasts twice, the corpus never shuffles.
   * Output: (id, group_id, n_dups, weight), weight = round(1/n, 6).
   */
  def duplicationWeights(df: DataFrame, groups: DataFrame,
      idCol: String): DataFrame = {
    val g = groups.select(col("doc_id").as("__gid"), col("canonical_id"))
    val sizes = g.groupBy(col("canonical_id")).agg(count(lit(1)).as("__n"))
    val gs = g.join(sizes, Seq("canonical_id"))
    df.select(col(idCol))
      .join(broadcast(gs), col(idCol) === col("__gid"), "left")
      .select(col(idCol),
        coalesce(col("canonical_id"), col(idCol)).as("group_id"),
        coalesce(col("__n"), lit(1L)).as("n_dups"),
        round(lit(1.0) / coalesce(col("__n"), lit(1L)), 6).as("weight"))
  }

  /**
   * Positional word n-gram shingles: one row per shingle OCCURRENCE
   * (doc, pos, shingle), pos 0-based in document order — the span-level
   * companion of [[shingles]] (which is distinct/set-level). Codegen'd
   * ([[graft.functions.WordShinglesAll]]) + posexplode: one narrow pass,
   * no shuffle.
   */
  def positionalShingles(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.WordShingles.wordShinglesAll(col(textCol), n)))
      .withColumnRenamed("col", "shingle")

  /**
   * EXACT SUBSTRING near-dup spans (the Lee et al. 2022 "Deduplicating
   * Training Data Makes Language Models Better" family): find maximal
   * token spans of at least `minSpanTokens` whitespace tokens repeated
   * VERBATIM across document pairs. Complements the set-level detectors
   * (Jaccard/MinHash miss a 50-token boilerplate block inside two long,
   * otherwise-unrelated documents; this operator exists exactly for that
   * case). Returns (doc_a, doc_b, a_start, b_start, span_tokens) with
   * doc_a < doc_b, one row per MAXIMAL shared span occurrence pair —
   * callers cut the spans (suffix-array removal) or drop/flag the docs.
   *
   * Distributed formulation (vs the paper's in-memory suffix array, which
   * cannot shard): a span of L >= k tokens shared at (a_start, b_start)
   * is exactly a maximal run of consecutive positions on one DIAGONAL
   * (pos_a - pos_b constant) where the docs' positional k-shingles agree.
   * So: positional-shingle both docs (narrow codegen pass), equi-join
   * occurrences on the shingle (the same candidate-join shape as the
   * other dedup operators — no cartesian), group matches by
   * (doc_a, doc_b, diagonal), and collapse consecutive-position runs with
   * the classic gaps-and-islands trick (pos - row_number is constant
   * within a run). All integer arithmetic — the DuckDB oracle reproduces
   * it bit-exactly.
   *
   * Skew guard: shingles with corpus-wide OCCURRENCE count above
   * `maxShingleDf` are dropped before the join (groupBy-count partial agg
   * + broadcast anti-join — the hardened [[ngramJaccardPairs]] cap shape;
   * occurrences, not distinct docs, because join fan-out is occurrences
   * squared); a count-10⁸ boilerplate shingle must not melt the join. Spans
   * whose every k-window is boilerplate-frequent are missed, the same
   * stop-shingle approximation the set-level operators make. The
   * island window partitions by (doc_a, doc_b, diagonal) — bounded by
   * min(len_a, len_b) rows, spillable, no hot-key funnel.
   */
  def substringDupSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int, minSpanTokens: Int, maxShingleDf: Int = 10000): DataFrame = {
    require(k >= 1 && minSpanTokens >= k,
      "need k >= 1 and minSpanTokens >= k (a span shorter than one shingle is undetectable)")
    val sh = graft.core.CacheScope.autoUnpersist(
      positionalShingles(df, textCol, idCol, k))
    val overCap = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df_n"))
      .filter(col("df_n") > maxShingleDf)
      .select(col("shingle"))
    val kept = sh.join(broadcast(overCap), Seq("shingle"), "left_anti")
    val a = kept.select(col(idCol).as("doc_a"), col("pos").as("pos_a"), col("shingle"))
    val b = kept.select(col(idCol).as("doc_b"), col("pos").as("pos_b"), col("shingle"))
    val m = a.join(b, Seq("shingle")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a").cast("long").as("pos_a"),
        (col("pos_a") - col("pos_b")).cast("long").as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pos_a"))
    m.withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("pos_a")).as("a_start"),
        (max(col("pos_a")) - min(col("pos_a")) + k).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_a"), col("doc_b"), col("a_start"),
        (col("a_start") - col("diag")).as("b_start"), col("span_tokens"))
  }

  /**
   * Winnowing overlap pairs (Schleimer et al. 2003): candidate document
   * pairs sharing at least `minShared` [[Text.winnowFingerprints]]
   * VALUES, with a containment estimate shared/min(|A|,|B|) over the
   * retained fingerprint sets. The MOSS pipeline at corpus scale: the
   * winnowing guarantee (any shared run of >= w+k-1 tokens contributes a
   * shared fingerprint) makes this a principled prefilter whose cost is
   * ~2/(w+1) of the full positional-shingle join [[substringDupSpans]]
   * runs — use it to gate which pairs that exact span-finder inspects.
   *
   * Scale shape: distinct (doc, fp) rows only — bodies never join; hot
   * fingerprints (df > maxDf: boilerplate the pigeonhole makes every doc
   * select) are dropped by groupBy-count + broadcast anti-join (the
   * hardened [[ngramJaccardPairs]] cap shape) BEFORE the equi-join, so
   * fan-out per fp is bounded; containment denominators count the same
   * retained universe the join saw.
   */
  def winnowOverlapPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 4, w: Int = 4, minShared: Int = 2, maxDf: Int = 1000): DataFrame = {
    require(minShared >= 1 && maxDf >= 1, "minShared and maxDf must be positive")
    val fps = Text.winnowFingerprints(df, textCol, idCol, k, w)
      .select(col(idCol).as("__id"), col("fp")).distinct()
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select(col("fp"))
    val cool = graft.core.CacheScope.autoUnpersist(
      fps.join(broadcast(hot), Seq("fp"), "left_anti"))
    val sizes = cool.groupBy(col("__id")).agg(count(lit(1)).as("__nfp"))
    val shared = cool.as("a").join(cool.as("b"),
        col("a.fp") === col("b.fp") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
    shared
      .join(sizes.select(col("__id").as("doc_a"), col("__nfp").as("__na")), Seq("doc_a"))
      .join(sizes.select(col("__id").as("doc_b"), col("__nfp").as("__nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared_fp"),
        round(col("shared_fp") / least(col("__na"), col("__nb")).cast("double"), 6)
          .as("containment"))
  }

  /**
   * Remove flagged duplicate spans from documents — the second half of
   * the Lee et al. exact-substring flow: [[substringDupSpans]] FINDS the
   * repeated spans, this operator CUTS them from the duplicate side
   * (convention: doc_a < doc_b, so doc_a keeps its copy and doc_b's
   * covered token ranges are excised — pass the span frame with the
   * roles of your keep policy). Output: (id, clean_text,
   * n_tokens_removed) for EVERY input doc; clean_text is the kept tokens
   * re-joined single-spaced over lowercased whitespace tokens (the same
   * normalization the span positions were computed on).
   *
   * Scale shape: spans collapse to one (doc, ranges) row per FLAGGED doc
   * (tiny — bounded by the near-dup subset), broadcast-joined onto the
   * corpus; the token filter is a per-doc Catalyst HOF over the ranges
   * list (a few ranges per flagged doc), unflagged docs stream through
   * with a null-ranges fast path. No corpus shuffle.
   */
  def cutSpans(df: DataFrame, spans: DataFrame, textCol: String,
      idCol: String, docCol: String = "doc_b", startCol: String = "b_start",
      lenCol: String = "span_tokens"): DataFrame = {
    val cuts = spans.select(col(docCol).as(idCol),
        struct(col(startCol).cast("long").as("s"),
          (col(startCol) + col(lenCol)).cast("long").as("e")).as("__c"))
      .groupBy(col(idCol)).agg(collect_list(col("__c")).as("__cuts"))
    val toks = graft.ops.Text.tokens(col(textCol))
    df.join(broadcast(cuts), Seq(idCol), "left")
      .withColumn("__kept",
        when(col("__cuts").isNull, toks)
          .otherwise(filter(toks, (_, i) =>
            !exists(col("__cuts"), c =>
              i.cast("long") >= c.getField("s") && i.cast("long") < c.getField("e")))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        (size(toks) - size(col("__kept"))).cast("long").as("n_tokens_removed"))
  }

  /**
   * Corpus shingle profiling: the top-k shingles by document frequency
   * (ties broken lexicographically). The operational companion of
   * `maxShingleDf` — at corpus scale this is how the stop-shingle
   * boilerplate list ("terms of service", nav chrome) gets chosen. One
   * explode + one hash-agg + a k-row ordered limit (TakeOrdered, no full
   * sort shuffle).
   */
  def topShingles(df: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int): DataFrame =
    shingles(df, textCol, idCol, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df_n"))
      .orderBy(col("df_n").desc, col("shingle"))
      .limit(k)

  /**
   * Profile-driven `maxShingleDf` (replaces guessing the 10000 default):
   * the `quantile`-th (default 99.9th) percentile of the corpus shingle
   * document-frequency distribution, floored at `minCap`. Rationale:
   * genuine near-duplicate shingles live in the body of the df
   * distribution, while boilerplate ("terms of service", nav chrome) sits
   * in the extreme tail — orders of magnitude above p99.9 of a web-scale
   * shingle universe — so capping at the profiled tail drops exactly the
   * join-melting shingles [[ngramJaccardPairs]]'s scaladoc describes while
   * leaving the dedup signal intact. The floor keeps small corpora (where
   * the quantile collapses to single digits) from capping away legitimate
   * shared shingles.
   *
   * Cost: the same explode + df hash-agg [[topShingles]] pays, plus one
   * Greenwald-Khanna `approxQuantile` over the df column — a scalar out,
   * no collect of the distribution. `relativeError` defaults to 1e-4
   * (sketch size O(1/eps), still tiny): probing within 1e-3 of the target
   * quantile needs rank error well under 1e-3 * N, or the estimate can
   * land on the boilerplate plateau it is trying to cut.
   */
  def shingleDfCap(df: DataFrame, textCol: String, idCol: String, n: Int,
      quantile: Double = 0.999, minCap: Int = 100,
      relativeError: Double = 1e-4): Int = {
    val dfn = shingles(df, textCol, idCol, n)
      .groupBy(col("shingle")).agg(count(lit(1)).cast("double").as("df_n"))
    val q = dfn.stat.approxQuantile("df_n", Array(quantile), relativeError).head
    math.max(q.ceil.toInt, minCap)
  }

  /**
   * Benchmark DECONTAMINATION: flag corpus documents that share at least
   * `minOverlap` distinct word n-gram shingles with a held-out benchmark
   * set — the standard eval-leakage guard every LLM training pipeline
   * runs before pretraining (n-gram overlap against the test sets, as in
   * the GPT-3/PaLM data papers). Returns one row per CONTAMINATED corpus
   * doc: (id, n_shared, bench_docs) where n_shared counts distinct
   * overlapping shingles and bench_docs counts distinct benchmark docs
   * hit; the caller anti-joins to drop them (or inspects the rows).
   *
   * Scale shape: shingle both sides (codegen'd word_shingles, no
   * shuffle), equi-join on the shingle key, hash-agg on the corpus doc —
   * the exact candidate-join pattern of [[ngramJaccardPairs]], except the
   * benchmark side is typically tiny (eval suites: 1e4-1e6 shingles), so
   * it broadcasts and the corpus never shuffles at all. A
   * `maxShingleDf` cap is deliberately NOT applied here: a contaminated
   * boilerplate shingle still indicates leakage, and the join fan-out is
   * bounded by the benchmark side's size, not the corpus's.
   *
   * `broadcastBench` (default true) is a HINT, not a guarantee of fit: a
   * held-out set whose shingle table exceeds driver/broadcast memory
   * would OOM under the hint — pass false to degrade to a plain
   * shingle-keyed shuffle join (both sides exchange; same result).
   */
  def decontaminate(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int, minOverlap: Int,
      broadcastBench: Boolean = true): DataFrame = {
    val c = shingles(corpus, textCol, idCol, n)
    val b = shingles(bench, textCol, idCol, n)
      .select(col(idCol).as("__bench_id"), col("shingle"))
    c.join(if (broadcastBench) broadcast(b) else b, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("shingle")).as("n_shared"),
        countDistinct(col("__bench_id")).as("bench_docs"))
      .filter(col("n_shared") >= minOverlap)
  }

  /**
   * MinHash signatures: k independent hash functions h_i(s) = md5(i':'s);
   * the signature component i is the lexicographic minimum over the doc's
   * shingles. md5-as-string keeps the min portable across engines.
   *
   * All k minimums are computed as k aggregates in ONE hash-aggregate pass
   * over the exploded shingles (wide row per doc) — no k-way row blowup, no
   * extra shuffle: the dominant cost is k md5 calls per shingle, map-side.
   */
  def minhashSigs(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    val aggs = (1 to k).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"mh_$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Production-path MinHash signatures: h_i(s) = xxhash64(i, s), min over
   * LONGS. Map-side cost is one 64-bit xxhash per (shingle, i) instead of
   * an md5 digest + hex string, and the aggregate state is k longs, not k
   * strings — roughly an order of magnitude cheaper per shingle. The md5
   * family ([[minhashSigs]]) is kept as the engine-portable oracle fixture;
   * DedupSpec ties the two variants with an output-agreement check (both
   * verify candidates with exact Jaccard, so disagreement = recall only).
   */
  def minhashSigsFast(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    val aggs = (1 to k).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * One-pass narrow signatures: the same (id, mh_1..mh_k) shape as
   * [[minhashSigs]]/[[minhashSigsFast]] but computed per document ROW by
   * [[graft.functions.MinHash]] — no shingle explode, no k-wide min
   * hash-aggregate, no exchange; the k·|shingles| hash calls run in one
   * codegen'd register loop. Bit-identical outputs (MinHashSpec ties
   * each family to its aggregate formulation); documents with an empty
   * shingle set — which the exploded aggregate simply never emits — are
   * filtered here to keep row parity.
   */
  def minhashSigsNarrow(df: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int, fastHash: Boolean): DataFrame = {
    val mh =
      if (fastHash) graft.functions.MinHash.minhashXx(col(textCol), n, k)
      else graft.functions.MinHash.minhashMd5(col(textCol), n, k)
    // drop sub-n-token docs (no shingles -> the exploded aggregate never
    // emits them) BEFORE computing signatures, and do it on a cheap
    // token-count predicate: filtering on size(__mh) would be pushed
    // below the projection with the alias inlined, evaluating the k-hash
    // expression TWICE per row (measured ~1.3x on the band-index path).
    // split's token count equals WordShingles' (same \s+ regex, limit -1;
    // lowercasing changes no boundaries), so the predicates agree exactly;
    // null text yields a null count and is dropped, matching nullSafeEval.
    // core-spread before the k-hash register loop (identity at corpus
    // scale — see [[graft.core.Spread]]): the signature pass is the CPU
    // floor of the LSH/admission family and otherwise inherits the
    // input's (possibly single-row-group) partition count
    graft.core.Spread.toCores(
        df.filter(size(split(col(textCol), "\\s+")) >= n))
      .select(col(idCol), mh.as("__mh"))
      .select(col(idCol) +: (1 to k).map(i =>
        element_at(col("__mh"), i).as(s"mh_$i")): _*)
  }

  /**
   * MinHash-LSH near-duplicate pairs: k minhashes in `bands` bands of
   * k/bands rows; docs colliding on any full band signature become
   * candidates (equi-join on (band, signature)); candidates are then
   * verified with exact shingle Jaccard >= tau.
   *
   * At 100 TB this is the canonical shape: the only wide operations are
   * hash-aggregates keyed by doc and an equi-join keyed by band signature;
   * band collision lists longer than `maxBucket` are dropped as degenerate
   * (boilerplate clusters), bounding join fan-out under skew.
   *
   * The shingle, band-signature and candidate tables are cached through
   * [[graft.core.CacheScope]] for reuse across stages within the first
   * materialization, then unpersisted automatically when that action
   * completes — the operator leaves no blocks behind in a long-lived
   * session.
   *
   * `fastHash = true` switches to the numeric xxhash64 family
   * ([[minhashSigsFast]]) and folds each band's row-hashes into one 64-bit
   * band key — the production path. A 64-bit band-key collision only ever
   * ADDS a candidate pair, and every candidate is verified with exact
   * Jaccard before emission, so correctness is unaffected; only the hash
   * family (and thus which true pairs the bands happen to surface) differs.
   */
  /**
   * Near-dup-leakage-safe split: hash-split on the dedup CLUSTER key
   * instead of the doc id, so every member of a duplicate/near-duplicate
   * group lands in the same split — the eval-hygiene complement of
   * decontamination (a near-dup of a test doc in train is leakage even
   * after exact dedup). `groups` is [[dedupGroups]] /
   * [[graft.ops.Graph.connectedComponents]] output (doc_id,
   * canonical_id); docs outside any pair split on their own id. One
   * left join (groups side is the small one) + the same content-derived
   * md5 threshold as [[Text.hashSplit]] — deterministic, engine-stable.
   */
  def clusterSafeSplit(df: DataFrame, groups: DataFrame, idCol: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    // dedupGroups/connectedComponents emit hard-coded (doc_id,
    // canonical_id) — rename both to idCol-local names so the composition
    // works for ANY idCol and never collides with caller columns. Accept
    // groups keyed either on doc_id (the dedupGroups contract) or already
    // on idCol.
    val gid = if (groups.columns.contains("doc_id")) "doc_id" else idCol
    val canon = df
      .join(groups.select(col(gid).as(idCol), col("canonical_id").as("__canon")),
        Seq(idCol), "left")
      .withColumn("__ck", coalesce(col("__canon"), col(idCol)))
    Text.hashSplit(canon, "__ck", fractions)
      .drop("__ck", "__canon")
  }

  /** [[lshPlan]]'s result: banding for [[minhashLshPairs]] plus the
    * S-curve diagnostics that justify it. */
  final case class LshPlan(bands: Int, rowsPerBand: Int, threshold: Double,
      pCollideAtTau: Double)

  /**
   * MinHash-LSH parameter planner: given a signature budget `k` and a
   * target Jaccard threshold `tau`, pick the (bands, rows) factorization
   * whose S-curve midpoint `(1/b)^(1/r)` lands closest to `tau` — the
   * standard banding rule (Leskovec/Rajaraman/Ullman, MMDS §3.4). Also
   * reports the collision probability `1 − (1 − tau^r)^b` AT the
   * threshold, so callers can see how sharp the chosen curve is before
   * spending a corpus pass. Pure driver-side arithmetic (spec-pinned);
   * feed the result straight into [[minhashLshPairs]]'s (k, bands).
   */
  def lshPlan(k: Int, tau: Double): LshPlan = {
    require(k >= 1 && tau > 0 && tau < 1, "need k >= 1 and tau in (0,1)")
    val cands = for (r <- 1 to k if k % r == 0) yield {
      val b = k / r
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }
    val (b, r, thr) = cands.minBy { case (_, _, t) => math.abs(t - tau) }
    LshPlan(b, r, thr, 1 - math.pow(1 - math.pow(tau, r), b))
  }

  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int, bands: Int, tau: Double,
      maxBucket: Int = 1000, fastHash: Boolean = false): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // signatures are a narrow one-pass projection (minhashSigsNarrow) —
    // the corpus is shingle-exploded ONLY for the candidate docs below
    val sigs = minhashSigsNarrow(df, textCol, idCol, n, k, fastHash)
    // stack the per-doc wide signature into (doc, band, sig) rows
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows + 1 to (b + 1) * rows).map(i => col(s"mh_$i"))
      val sig = if (fastHash) xxhash64(cols: _*).cast("string")
                else concat_ws("|", cols: _*)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    // cached: the bucket-cap count and the candidate join both read it, and
    // recomputing it means re-running the k-hash minhash aggregation
    val bandSig = graft.core.CacheScope.autoUnpersist(sigs
      .select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig")))
    // degenerate-bucket cap via groupBy-count (map-side partial agg) +
    // broadcast anti-join of the tiny over-cap list — same skew-hardened
    // shape as ngramJaccardPairs's df cap (a boilerplate cluster's bucket
    // never funnels into a single window task)
    val overCap = bandSig.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("band"), col("sig"))
    val bucketed = bandSig.join(broadcast(overCap), Seq("band", "sig"), "left_anti")
    val l = bucketed.select(col("band"), col("sig"), col(idCol).as("doc_a"))
    val r = bucketed.select(col("band"), col("sig"), col(idCol).as("doc_b"))
    // candidates are tiny (bounded by bands x maxBucket^2); persist so the
    // semi-join below doesn't recompute the whole band subtree
    val candidates = graft.core.CacheScope.autoUnpersist(
      l.join(r, Seq("band", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct())
    // verify candidates with exact Jaccard — restrict the shingle self-join
    // to documents that appear in some candidate pair first (the candidate
    // set is tiny relative to the corpus, so this skips almost all of the
    // shared-shingle pair blowup; output is identical)
    val candDocs = candidates.select(col("doc_a").as(idCol))
      .union(candidates.select(col("doc_b").as(idCol))).distinct()
    // semi-join BEFORE the explode so only candidate docs are ever
    // shingled into rows (the join cannot be pushed below a generate by
    // the optimizer); sizes = |distinct shingle set| is a narrow
    // projection over the same tiny candidate slice
    val dfc = df.join(broadcast(candDocs), Seq(idCol), "left_semi")
    val shc = shingles(dfc, textCol, idCol, n)
    val sizes = dfc.select(col(idCol),
      size(graft.functions.WordShingles.wordShingles(col(textCol), n))
        .cast("long").as("sz"))
    val a = shc.select(col(idCol).as("doc_a"), col("shingle"))
    val b = shc.select(col(idCol).as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    candidates.join(inter, Seq("doc_a", "doc_b"), "inner")
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /**
   * Persistable MinHash band index of a corpus: one row per (doc, band)
   * carrying the band key and the doc's FULL k-component signature — the
   * state that makes near-dup admission INCREMENTAL. Build once over the
   * existing corpus, write to parquet; each new batch is admitted against
   * the index ([[admitNearDups]]) and its own rows appended — the corpus
   * text is never re-read and never re-shingled. The near-dup analogue
   * of [[hashIndex]]/[[dedupIncremental]].
   *
   * `fastHash = false` uses the md5 hash family ([[minhashSigs]], oracle-
   * replayable); `true` uses xxhash64 longs ([[minhashSigsFast]], the
   * production path — same agreement guarantee as [[minhashLshPairs]]).
   *
   * Schema: (id, band, sig, mh array) — mh repeats per band (bands is
   * small); storing it inline keeps the index ONE self-contained table.
   */
  def minhashBandIndex(df: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int, bands: Int, fastHash: Boolean = false): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val sigs = minhashSigsNarrow(df, textCol, idCol, n, k, fastHash)
    val mhArr = array((1 to k).map(i => col(s"mh_$i")): _*)
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows + 1 to (b + 1) * rows).map(i => col(s"mh_$i"))
      val sig = if (fastHash) xxhash64(cols: _*).cast("string")
                else concat_ws("|", cols: _*)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    sigs.select(col(idCol), mhArr.as("mh"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"),
        col("mh"))
  }

  /**
   * Near-duplicate ADMISSION of a new batch against a [[minhashBandIndex]]:
   * every new doc is flagged dup/novel, with the canonical existing match.
   * Candidates come from band-key equality against the index; verification
   * is the MinHash AGREEMENT estimate jhat = |matching components| / k —
   * the index stores signatures, not shingle sets, which is precisely what
   * makes admission O(new batch), so the verify step uses the estimator,
   * not exact Jaccard. Run [[minhashLshPairs]] WITHIN the batch separately if
   * intra-batch dups matter.
   *
   * Scale shape: the new batch is shingled and signed (narrow, O(batch));
   * the index side is read pre-bucketed from parquet, degenerate buckets
   * capped via groupBy-count + broadcast anti-join (the
   * [[minhashLshPairs]] skew guard); the candidate join is band-keyed.
   * The full corpus never re-shuffles — only its (band, sig) rows matched
   * by the batch move. Append `minhashBandIndex(admitted)` rows to the
   * index parquet to complete the increment.
   *
   * Output: one row per new doc — (id, is_dup, dup_of, best_jhat), where
   * `dup_of` is the min existing id among matches >= tau (ties on the
   * estimate are irrelevant: min over ALL matches) and `best_jhat` its
   * strongest agreement; both null for novel docs.
   */
  def admitNearDups(newDocs: DataFrame, index: DataFrame, textCol: String,
      idCol: String, n: Int, k: Int, bands: Int, tau: Double,
      maxBucket: Int = 1000, fastHash: Boolean = false): DataFrame = {
    val newIdx = minhashBandIndex(newDocs, textCol, idCol, n, k, bands, fastHash)
      .select(col(idCol).as("__new_id"), col("band"), col("sig"),
        col("mh").as("__mh_new"))
    val overCap = index.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("band"), col("sig"))
    val idxCapped = index.join(broadcast(overCap), Seq("band", "sig"), "left_anti")
      .select(col("band"), col("sig"), col(idCol).as("__ex_id"),
        col("mh").as("__mh_ex"))
    val agree = size(filter(
      zip_with(col("__mh_new"), col("__mh_ex"), (x, y) => x === y),
      b => b))
    val matched = newIdx.join(idxCapped, Seq("band", "sig"))
      .dropDuplicates("__new_id", "__ex_id")
      .withColumn("__jhat", round(agree.cast("double") / k, 6))
      .filter(col("__jhat") >= tau)
      .groupBy(col("__new_id"))
      .agg(min(col("__ex_id")).as("dup_of"), max(col("__jhat")).as("best_jhat"))
    newDocs.select(col(idCol))
      .join(matched.withColumnRenamed("__new_id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("best_jhat"))
  }

  /**
   * [[minhashBandIndex]] packed one row per (band, sig) bucket — members
   * as an inline array — the serving layout that lets [[admitNearDupsPacked]]
   * resolve admission with NO aggregation after the join, which is what
   * makes the identical plan run as a stream-static query in Structured
   * Streaming append mode (the [[graft.ops.Vectors.packedIndex]] /
   * asofLookupJoin house pattern). Buckets over `maxBucket` members are
   * dropped whole — the same degenerate-cluster cap as [[admitNearDups]]'s
   * broadcast anti-join, applied at pack time (once, not per batch).
   */
  def packedAdmitIndex(index: DataFrame, idCol: String,
      maxBucket: Int = 1000): DataFrame =
    index.groupBy(col("band"), col("sig"))
      .agg(collect_list(struct(col(idCol).as("id"), col("mh"))).as("members"))
      .filter(size(col("members")) <= maxBucket)

  /**
   * Near-dup admission against a [[packedAdmitIndex]] — IDENTICAL verdicts
   * to [[admitNearDups]] (spec-pinned), but expressed as `bands`
   * stream-static-legal left equi-joins plus row-local array folds:
   *
   *  - signatures are computed IN-ROW (`array_min` over the doc's shingle
   *    array — same hash families as [[minhashSigs]]/[[minhashSigsFast]]),
   *    no groupBy;
   *  - each band joins its own slice of the packed index (left outer,
   *    stream on the left — append-mode legal);
   *  - candidates from all bands concatenate in-row; jhat, the tau filter,
   *    min-id dup_of and max best_jhat are array HOFs — no post-join
   *    aggregation, no state, no watermark.
   *
   * Pass a STREAMING `docs` and the result is a streaming admission feed;
   * pass a batch frame and it is a batch operator. Docs with < n tokens
   * have no shingles and come out novel (batch parity).
   */
  def admitNearDupsPacked(docs: DataFrame, packed: DataFrame, textCol: String,
      idCol: String, n: Int, k: Int, bands: Int, tau: Double,
      fastHash: Boolean = false): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // ONE codegen'd signature pass per doc ([[graft.functions.MinHash]]);
    // the k interpreted array_min/transform lambdas this replaces are
    // bit-identical for docs with shingles. Docs with < n tokens carried
    // k null components there (array_min over empty = null) — reproduced
    // by the `when`'s otherwise branch, so they still flow through the
    // band joins and come out novel (jhat counts no null matches).
    val elemT = if (fastHash) "bigint" else "string"
    val mhNarrow =
      if (fastHash) graft.functions.MinHash.minhashXx(col(textCol), n, k)
      else graft.functions.MinHash.minhashMd5(col(textCol), n, k)
    val mhArr = when(size(split(col(textCol), "\\s+")) >= n, mhNarrow)
      .otherwise(array((1 to k).map(_ => lit(null).cast(elemT)): _*))
    def sigOf(b: Int): Column = {
      val cols = (b * rows until (b + 1) * rows).map(i => col("__mh")(i))
      if (fastHash) xxhash64(cols: _*).cast("string")
      else concat_ws("|", cols: _*)
    }
    val memType = packed.schema("members").dataType
    var cur = docs.select(col(idCol), mhArr.as("__mh"))
    cur = cur.select(Seq(col(idCol), col("__mh")) ++
      (0 until bands).map(b => sigOf(b).as(s"__sig_$b")): _*)
    (0 until bands).foreach { b =>
      val side = packed.filter(col("band") === b)
        .select(col("sig").as(s"__psig_$b"), col("members").as(s"__mem_$b"))
      cur = cur.join(side, cur(s"__sig_$b") === side(s"__psig_$b"), "left")
    }
    val allMem = concat((0 until bands).map(b =>
      coalesce(col(s"__mem_$b"), array().cast(memType))): _*)
    val cands = transform(allMem, m => struct(
      m.getField("id").as("id"),
      round(size(filter(zip_with(col("__mh"), m.getField("mh"),
        (x, y) => x === y), v => v)).cast("double") / k, 6).as("jhat")))
    val hits = filter(cands, c => c.getField("jhat") >= tau)
    cur.select(col(idCol), col("__mh"), hits.as("__hits"))
      .select(col(idCol),
        (size(col("__hits")) > 0).as("is_dup"),
        array_min(transform(col("__hits"), _.getField("id"))).as("dup_of"),
        array_max(transform(col("__hits"), _.getField("jhat"))).as("best_jhat"))
  }

  /**
   * Benchmark-contamination FRACTION per corpus document: the share of the
   * doc's distinct n-gram shingles that appear anywhere in the held-out
   * benchmark — the graded signal behind GPT-3/PaLM-style contamination
   * analyses, where docs are binned or dropped by overlap percentage
   * rather than [[decontaminate]]'s absolute shingle count (which biases
   * against long documents). Same join shape as [[decontaminate]]: the
   * bench shingle set is deduped to one column and broadcast (guarded by
   * the same hint), the corpus is scanned once; every corpus doc with >= 1
   * shingle gets a row (clean docs score 0.0).
   *
   * Output: (id, n_shingles, n_shared, overlap_frac, flagged) with
   * `flagged = overlap_frac >= minFrac`.
   */
  def contaminationScore(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int, minFrac: Double,
      broadcastBench: Boolean = true): DataFrame = {
    val c = graft.core.CacheScope.autoUnpersist(shingles(corpus, textCol, idCol, n))
    val b0 = shingles(bench, textCol, idCol, n).select(col("shingle")).distinct()
    val b = if (broadcastBench) broadcast(b0) else b0
    val sz = c.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val shared = c.join(b, Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__shared"))
    sz.join(shared, Seq(idCol), "left")
      .withColumn("n_shared", coalesce(col("__shared"), lit(0L)))
      .withColumn("overlap_frac",
        round(col("n_shared").cast("double") / col("n_shingles"), 6))
      .select(col(idCol), col("n_shingles"), col("n_shared"),
        col("overlap_frac"), (col("overlap_frac") >= minFrac).as("flagged"))
  }

  /**
   * Corpus snapshot diff: every doc id across two corpus versions gets a
   * status — `added` (new only), `removed` (old only), `changed` (both,
   * content hash differs), `unchanged` — the audit primitive behind
   * incremental reprocessing ("run the pipeline on added+changed only")
   * and release notes between corpus versions. Content equality is
   * md5-of-text (byte-level; pre-normalize upstream if whitespace changes
   * shouldn't count).
   *
   * Scale shape: each side reduces to (id, 16-byte hash) map-side before
   * the id-keyed full-outer join — document bodies never shuffle. For a
   * RECURRING diff, write both snapshots `bucketBy(n, id)`
   * ([[graft.sources.Bucketed]]) and the join plans with zero exchanges.
   */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(col(textCol).cast("string")).as("old_hash"))
    val nw = newDf.select(col(idCol), md5(col(textCol).cast("string")).as("new_hash"))
    o.join(nw, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_hash"), col("new_hash"))
  }

  /**
   * Cross-group (e.g. cross-SOURCE) content-overlap matrix: for every pair
   * of groups, the count of shared distinct word n-gram shingles and the
   * set Jaccard — the corpus diagnostic that decides WHERE cross-source
   * dedup effort goes (two crawls of the same sites show up as a hot cell
   * before any doc-level pass runs).
   *
   * Scale shape: shingle sets are reduced to the GROUP grain first
   * (distinct on (group, shingle) — map-side partial agg), so the
   * self-join fan-out per shingle is bounded by the number of GROUPS
   * carrying it (dozens of sources, not millions of docs) — at most G²
   * rows per shingle, no df cap needed. Group sizes join back as a
   * broadcast (G rows). Output: (grp_a, grp_b, n_shared, jaccard),
   * grp_a < grp_b, only pairs with >= 1 shared shingle.
   */
  def groupOverlap(df: DataFrame, textCol: String, groupCol: String,
      n: Int): DataFrame = {
    val sh = shingles(df, textCol, groupCol, n).distinct()
    val sizes = sh.groupBy(col(groupCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(groupCol).as("grp_a"), col("shingle"))
    val b = sh.select(col(groupCol).as("grp_b"), col("shingle"))
    a.join(b, Seq("shingle")).filter(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b")).agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col(groupCol).as("grp_a"), col("sz").as("sz_a"))), Seq("grp_a"))
      .join(broadcast(sizes.select(col(groupCol).as("grp_b"), col("sz").as("sz_b"))), Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_shared")), 6).as("jaccard"))
  }

  /**
   * Sketch-path twin of [[groupOverlap]] for corpus scale: per-group HLL
   * sketches of the shingle set (Spark's DataSketches `hll_sketch_agg`,
   * map-side mergeable — shuffled bytes per group are the SKETCH size,
   * independent of shingle count), pairwise intersection estimated by
   * inclusion–exclusion over `hll_union`. At 100 TB the exact variant's
   * shingle self-join touches every (shingle, group) row; this one reduces
   * the corpus to G kilobyte-sized sketches and estimates every cell of
   * the G×G matrix from those alone (the estimate error is the standard
   * HLL ~1%·union bound — fine for the "where do I dedup first" decision,
   * not for exact accounting).
   *
   * Output: (grp_a, grp_b, sz_a, sz_b, est_union, est_shared) — estimates
   * rounded to whole counts, est_shared floored at 0.
   */
  def groupOverlapSketch(df: DataFrame, textCol: String, groupCol: String,
      n: Int, lgK: Int = 14): DataFrame = {
    val sh = shingles(df, textCol, groupCol, n).distinct()
    val sk = sh.groupBy(col(groupCol)).agg(
      hll_sketch_agg(col("shingle"), lit(lgK)).as("sk"),
      count(lit(1)).as("sz"))
    val a = sk.select(col(groupCol).as("grp_a"), col("sk").as("sk_a"), col("sz").as("sz_a"))
    val b = sk.select(col(groupCol).as("grp_b"), col("sk").as("sk_b"), col("sz").as("sz_b"))
    a.join(broadcast(b), col("grp_a") < col("grp_b"))
      .withColumn("est_union",
        round(hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))).cast("long"))
      .select(col("grp_a"), col("grp_b"), col("sz_a"), col("sz_b"), col("est_union"),
        greatest(lit(0L), col("sz_a") + col("sz_b") - col("est_union")).as("est_shared"))
  }

  /**
   * Candidate-pair quality harness: recall/precision of an approximate
   * pair generator ([[minhashLshPairs]], [[simhashPairs]],
   * [[graft.ops.Vectors]] banded cosine, [[winnowOverlapPairs]])
   * against a ground-truth pair set ([[ngramJaccardPairs]] at the same
   * threshold) — the dedup analogue of the ANN recall report
   * (`q_ann_recall_variants`): the miss rate of every shipped candidate
   * path is MEASURED, not asserted. Pairs are order-canonicalized
   * (least, greatest) and de-duplicated on both sides, so generators
   * that emit (a,b) and (b,a) are graded identically.
   *
   * One full-outer equi-join on the pair key + a one-row aggregate —
   * both inputs are pair tables (already candidate-pruned, orders of
   * magnitude smaller than the corpus), so the harness adds no
   * corpus-scale work. Output: one row (n_truth, n_cand, n_hit, recall,
   * precision), ratios rounded to 6 dp; n_hit counts truth ∩ candidates.
   */
  def pairRecall(cand: DataFrame, truth: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    def canon(df: DataFrame, tag: String): DataFrame =
      df.select(least(col(aCol), col(bCol)).as("__a"),
          greatest(col(aCol), col(bCol)).as("__b"))
        .distinct().withColumn(tag, lit(1L))
    // coalesce the aggregates and guard the divisions: with an empty
    // truth or candidate set the sums are NULL and the ratios divide by
    // zero — the degenerate case a recall harness exists to report (as
    // zeros), not to crash a getLong/getDouble caller on
    canon(truth, "__t").join(canon(cand, "__c"), Seq("__a", "__b"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("__t"), lit(0L))), lit(0L)).as("n_truth"),
        coalesce(sum(coalesce(col("__c"), lit(0L))), lit(0L)).as("n_cand"),
        coalesce(sum(coalesce(col("__t"), lit(0L)) * coalesce(col("__c"), lit(0L))),
          lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        when(col("n_truth") > 0,
          round(col("n_hit").cast("double") / col("n_truth"), 6))
          .otherwise(lit(0.0)).as("recall"),
        when(col("n_cand") > 0,
          round(col("n_hit").cast("double") / col("n_cand"), 6))
          .otherwise(lit(0.0)).as("precision"))
  }

  /**
   * Content-defined chunking (Rabin-style): cut each document at
   * positions where a rolling window's hash hits a fixed pattern, so
   * chunk boundaries derive from CONTENT, not offsets — an insertion or
   * deletion shifts only the chunks it touches and the cut points
   * re-synchronize right after (the storage-dedup property exact
   * line/paragraph grain lacks: a one-character edit re-aligns nothing).
   * This is the byte-grain dedup complement of [[paragraphDups]] for
   * corpora without structural delimiters (minified HTML/JS, logs,
   * concatenated crawl text).
   *
   * Boundary rule: position i (1-based, i ≥ window) ends a chunk when
   * the hash of the `window` chars ending AT i matches a 1-in-64
   * pattern — expected chunk length 64 characters. `fastHash = false`
   * (the oracle fixture) tests `md5(window)` for hex prefix `0[0-3]`
   * (4/256 = 1/64, SQL-replayable on any engine with md5);
   * `fastHash = true` (the production path) tests `xxhash64 % 64 == 0`.
   * A boundary landing exactly on the last character merges into the
   * final chunk (no empty tail); blank/empty docs emit no rows.
   *
   * Scale shape: ONE narrow projection — boundary positions, starts and
   * ends are array HOFs over the doc's own character range; the explode
   * emits (doc, idx, start, len, 16-byte hash) skinny rows, the text
   * never shuffles. The per-doc cost is O(len) window hashes of
   * `window` chars (md5/xxhash64 are codegen'd); at 100 TB fuse it into
   * the ingest scan stage and prefer `fastHash = true` — the windowed
   * xxhash64 is the measured-cheap half of the [[minhashSigsFast]]
   * trade. Output: (doc_id, chunk_idx, chunk_start, chunk_len,
   * chunk_hash), 1-based start, hash = md5 of the chunk text.
   */
  /** (starts, ends) 1-based chunk ranges of `txt` under the
    * content-defined boundary rule — the row-local core shared by the
    * chunking family. */
  private[ops] def chunkRanges(txt: Column, window: Int,
      fastHash: Boolean): (Column, Column) = {
    require(window >= 2, "window must be >= 2")
    val isBoundary: Column => Column = i => {
      val win = txt.substr(i - (window - 1), lit(window))
      if (fastHash) pmod(xxhash64(win), lit(64L)) === 0L
      else md5(win).rlike("^0[0-3]")
    }
    val n = length(txt)
    // candidate boundary positions window..len-1 (a cut AT len is a
    // no-op tail); starts = 1 :: each boundary+1; ends = boundaries :: len.
    // Guard the short-doc case: Spark's sequence(a, b) DESCENDS when
    // a > b, which would fabricate boundaries for docs shorter than the
    // window — those docs are one whole chunk.
    val bpos = when(n - 1 >= window,
      filter(sequence(lit(window), n - 1), isBoundary))
      .otherwise(array().cast("array<int>"))
    (concat(array(lit(1)), transform(bpos, b => b + 1)),
      concat(bpos, array(n)))
  }

  def contentChunks(df: DataFrame, textCol: String, idCol: String,
      window: Int = 16, fastHash: Boolean = false): DataFrame =
    contentChunks(df, textCol, idCol, ChunkBoundary.windowed(window, fastHash))

  /** [[contentChunks]] under an explicit [[ChunkBoundary]] family —
    * same output contract for every family; the cut points differ. */
  def contentChunks(df: DataFrame, textCol: String, idCol: String,
      boundary: ChunkBoundary): DataFrame = {
    val txt = col(textCol)
    val (starts, ends) = boundary.ranges(txt)
    chunkTable(df, txt, idCol, starts, ends)
  }

  /** The chunk-table explode shared by the boundary families. */
  private def chunkTable(df: DataFrame, txt: Column, idCol: String,
      starts: Column, ends: Column): DataFrame =
    df.filter(length(txt) > 0)
      .select(col(idCol).cast("long").as("doc_id"), txt.as("__t"),
        posexplode(zip_with(starts, ends, (s, e) =>
          struct(s.as("s"), e.as("e")))).as(Seq("__i", "__c")))
      .select(col("doc_id"), (col("__i") + 1).cast("long").as("chunk_idx"),
        col("__c.s").cast("long").as("chunk_start"),
        (col("__c.e") - col("__c.s") + 1).cast("long").as("chunk_len"),
        md5(col("__t").substr(col("__c.s"),
          col("__c.e") - col("__c.s") + 1)).as("chunk_hash"))

  /**
   * Row-local APPROXIMATE chunk cut against a Bloom sketch of the corpus
   * [[contentChunkHashIndex]] — the STREAMING form of [[dropKnownChunks]]
   * at content-defined grain: no explode, no regroup, no state, so it is
   * append-mode legal and each micro-batch row filters its own chunk
   * ranges through the broadcast-sized sketch (probe is Spark's
   * codegen'd `BloomFilterMightContain` over `xxhash64`).
   *
   * Bloom semantics as in [[dropKnownParagraphsBloom]]: no false
   * negatives (provably-unseen chunks are always kept); `fpp` of
   * genuinely-novel chunks false-positive and are cut — boilerplate
   * scrubbing on a live feed, not provenance-critical removal.
   * Within-batch repeats are NOT cut (no cross-row state) — run the
   * exact [[dropKnownChunks]] pass at compaction time. The index must
   * have been built with the SAME `window`/`fastHash` family.
   */
  def dropKnownChunksBloom(docs: DataFrame, textCol: String, idCol: String,
      index: DataFrame, expectedItems: Long = 0L, fpp: Double = 0.01,
      window: Int = 16, fastHash: Boolean = false): DataFrame =
    dropKnownChunksBloom(docs, textCol, idCol, index,
      ChunkBoundary.windowed(window, fastHash), expectedItems, fpp)

  /** [[dropKnownChunksBloom]] under an explicit [[ChunkBoundary]] — the
    * index MUST have been built with the SAME family (and parameters). */
  def dropKnownChunksBloom(docs: DataFrame, textCol: String, idCol: String,
      index: DataFrame, boundary: ChunkBoundary, expectedItems: Long,
      fpp: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.CatalystBridge
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val items = if (expectedItems > 0) expectedItems
      else math.max(index.count(), 1L)
    val bf = index.select(xxhash64(col("chunk_hash")).as("h"))
      .stat.bloomFilter("h", items, fpp)
    val os = new java.io.ByteArrayOutputStream()
    bf.writeTo(os)
    val bytes = os.toByteArray
    def novel(chunk: Column): Column =
      !CatalystBridge.column(BloomFilterMightContain(
        Literal(bytes), CatalystBridge.expression(xxhash64(md5(chunk)))))
    val txt = col(textCol)
    val (starts, ends) = boundary.ranges(txt)
    docs.filter(length(txt) > 0)
      .select(col(idCol).cast("long").as("doc_id"), txt.as("__t"),
        zip_with(starts, ends, (s, e) => struct(s.as("s"), e.as("e")))
          .as("__r"))
      .select(col("doc_id"), col("__r"),
        filter(col("__r"), r => novel(col("__t").substr(r.getField("s"),
          r.getField("e") - r.getField("s") + 1))).as("__kept"),
        col("__t"))
      .select(col("doc_id"),
        array_join(transform(col("__kept"), r =>
          col("__t").substr(r.getField("s"),
            r.getField("e") - r.getField("s") + 1)), "").as("clean_text"),
        size(col("__r")).cast("long").as("n_chunks"),
        (size(col("__r")) - size(col("__kept"))).cast("long").as("n_dropped"))
  }

  /**
   * [[contentChunks]] with GEAR rolling-hash boundaries
   * ([[graft.functions.GearBoundaries]]) — the production boundary
   * family for the 100 TB ingest scan: O(1) hash work per character
   * where the windowed md5/xxhash64 rules pay a full `window`-char
   * digest at every position. Same output contract and downstream
   * machinery; a DIFFERENT chunking (boundary families never agree),
   * so pick one family per corpus and persist it with the index.
   * Expected chunk length 2^maskBits characters.
   */
  def contentChunksGear(df: DataFrame, textCol: String, idCol: String,
      window: Int = 16, maskBits: Int = 6): DataFrame =
    contentChunks(df, textCol, idCol, ChunkBoundary.Gear(window, maskBits))

  /**
   * Chunk-grain dedup verdicts over [[contentChunks]] output: the
   * corpus-wide canonical occurrence (min (doc, idx)) per chunk content,
   * [[paragraphDups]]' contract at content-defined grain. Output:
   * (doc_id, chunk_idx, chunk_len, chunk_hash, is_dup, canon_doc,
   * canon_idx). Shuffles 16-byte hashes + ints only; groupBy-min
   * map-side combines, so a boilerplate chunk in 10⁸ docs partial-
   * aggregates per task instead of funneling one partition.
   */
  def contentChunkDups(df: DataFrame, textCol: String, idCol: String,
      window: Int = 16, fastHash: Boolean = false): DataFrame =
    contentChunkDups(df, textCol, idCol, ChunkBoundary.windowed(window, fastHash))

  /** [[contentChunkDups]] under an explicit [[ChunkBoundary]] family —
    * [[ChunkBoundary.Gear]] is the production choice (O(1)/char where
    * the windowed rules pay a full digest at every position). */
  def contentChunkDups(df: DataFrame, textCol: String, idCol: String,
      boundary: ChunkBoundary): DataFrame = {
    val keys = contentChunks(df, textCol, idCol, boundary)
    val canon = keys.groupBy(col("chunk_hash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__c"))
      .select(col("chunk_hash"), col("__c.doc_id").as("canon_doc"),
        col("__c.chunk_idx").as("canon_idx"))
    keys.join(canon, Seq("chunk_hash"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_len"),
        col("chunk_hash"),
        (col("canon_doc") =!= col("doc_id") ||
          col("canon_idx") =!= col("chunk_idx")).as("is_dup"),
        col("canon_doc"), col("canon_idx"))
  }

  /**
   * Per-document duplication profile at content-defined chunk grain:
   * how many of the doc's chunks (and characters) already exist
   * elsewhere in the corpus as the canonical copy — the "how much of
   * this page is boilerplate seen before" signal storage dedup systems
   * report as the dedup ratio. One aggregate over [[contentChunkDups]];
   * `dup_frac` is duplicated chars over chunked chars, 6-dp rounded.
   * Output: (doc_id, n_chunks, n_dup_chunks, dup_chars, dup_frac).
   */
  def contentChunkStats(df: DataFrame, textCol: String, idCol: String,
      window: Int = 16, fastHash: Boolean = false): DataFrame =
    contentChunkStats(df, textCol, idCol, ChunkBoundary.windowed(window, fastHash))

  /** [[contentChunkStats]] under an explicit [[ChunkBoundary]] family. */
  def contentChunkStats(df: DataFrame, textCol: String, idCol: String,
      boundary: ChunkBoundary): DataFrame =
    contentChunkDups(df, textCol, idCol, boundary)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("is_dup"), col("chunk_len")).otherwise(0L)).as("dup_chars"),
        round(sum(when(col("is_dup"), col("chunk_len")).otherwise(0L))
          .cast("double") / sum(col("chunk_len")), 6).as("dup_frac"))

  /** Distinct chunk-content hashes of a corpus — [[contentChunks]]' grain
    * of [[paragraphHashIndex]]: persist THIS (16 bytes per distinct
    * chunk, never the text) as the state an incremental ingest cuts
    * against. Same `window`/`fastHash` MUST be used on both sides. */
  def contentChunkHashIndex(df: DataFrame, textCol: String,
      window: Int = 16, fastHash: Boolean = false): DataFrame =
    contentChunkHashIndex(df, textCol, ChunkBoundary.windowed(window, fastHash))

  /** [[contentChunkHashIndex]] under an explicit [[ChunkBoundary]] —
    * persist the family (and parameters) WITH the index; an index cuts
    * only batches chunked by the same rule. */
  def contentChunkHashIndex(df: DataFrame, textCol: String,
      boundary: ChunkBoundary): DataFrame = {
    val txt = col(textCol)
    val (starts, ends) = boundary.ranges(txt)
    df.filter(length(txt) > 0)
      .select(explode(zip_with(starts, ends,
        (s, e) => md5(txt.substr(s, e - s + 1)))).as("chunk_hash"))
      .distinct()
  }

  /**
   * Incremental content-defined chunk cut — the ingest form of the
   * chunk-dedup family: drop from each new-batch doc every chunk that is
   * (a) already in the corpus's [[contentChunkHashIndex]] or (b) a
   * within-batch repeat of an earlier (doc, idx) occurrence, then
   * rebuild the doc from its surviving chunk ranges. Empty/blank batch
   * docs emit no rows (they have no chunks — the [[contentChunks]]
   * convention).
   *
   * Scale shape: the batch chunks once (skinny hash rows), the verdicts
   * come back as ONE small (doc, drop-idx-set) row per affected doc, and
   * the rebuild is a row-local range filter + substring concat over the
   * doc's own text — batch bodies never shuffle, the index side joins on
   * the 16-byte hash. Output: (doc_id, clean_text, n_chunks, n_dropped).
   */
  def dropKnownChunks(batch: DataFrame, textCol: String, idCol: String,
      index: DataFrame, window: Int = 16,
      fastHash: Boolean = false): DataFrame =
    dropKnownChunks(batch, textCol, idCol, index,
      ChunkBoundary.windowed(window, fastHash))

  /** [[dropKnownChunks]] under an explicit [[ChunkBoundary]] — the
    * index MUST have been built with the SAME family (and parameters). */
  def dropKnownChunks(batch: DataFrame, textCol: String, idCol: String,
      index: DataFrame, boundary: ChunkBoundary): DataFrame = {
    val ck = contentChunks(batch, textCol, idCol, boundary)
    val canon = ck.groupBy(col("chunk_hash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__c"))
      .select(col("chunk_hash"), col("__c.doc_id").as("__cd"),
        col("__c.chunk_idx").as("__ci"))
    val withinDups = ck.join(canon, Seq("chunk_hash"))
      .filter(col("__cd") =!= col("doc_id") || col("__ci") =!= col("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"))
    val known = ck.join(index, Seq("chunk_hash"), "left_semi")
      .select(col("doc_id"), col("chunk_idx"))
    val drops = withinDups.union(known)
      .groupBy(col("doc_id")).agg(collect_set(col("chunk_idx")).as("__drop"))
    val txt = col(textCol)
    val (starts, ends) = boundary.ranges(txt)
    batch.filter(length(txt) > 0)
      .select(col(idCol).cast("long").as("doc_id"), txt.as("__t"),
        starts.as("__s"), ends.as("__e"))
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(transform(
          filter(sequence(lit(1), size(col("__s"))), i =>
            !array_contains(coalesce(col("__drop"),
              array().cast("array<bigint>")), i.cast("long"))),
          i => col("__t").substr(element_at(col("__s"), i),
            element_at(col("__e"), i) - element_at(col("__s"), i) + 1)),
          "").as("clean_text"),
        size(col("__s")).cast("long").as("n_chunks"),
        coalesce(size(col("__drop")), lit(0)).cast("long").as("n_dropped"))
  }
}

/**
 * Boundary-rule families for content-defined chunking — every operator
 * in [[Dedup]]'s chunk family ([[Dedup.contentChunks]],
 * [[Dedup.contentChunkDups]], [[Dedup.contentChunkStats]],
 * [[Dedup.contentChunkHashIndex]], [[Dedup.dropKnownChunks]],
 * [[Dedup.dropKnownChunksBloom]]) takes one. Families NEVER produce the
 * same cut points, so pick one per corpus and persist the choice (and
 * its parameters) alongside any hash index built from it.
 *
 *  - [[ChunkBoundary.WindowedMd5]] — the ORACLE fixture: replayable as
 *    plain SQL on any engine with md5, but O(window) digest work per
 *    character.
 *  - [[ChunkBoundary.WindowedXxhash]] — codegen'd digest, still
 *    O(window) per character.
 *  - [[ChunkBoundary.Gear]] — GEAR rolling hash
 *    ([[graft.functions.GearBoundaries]]), O(1) per character: the
 *    production family for the 100 TB ingest scan (measured ~20x
 *    cheaper than the windowed digests on the same corpus).
 */
sealed trait ChunkBoundary {
  /** (starts, ends) 1-based chunk ranges of `txt` under this rule. */
  private[ops] def ranges(txt: Column): (Column, Column)
}

object ChunkBoundary {

  /** Windowed md5 with hex prefix `0[0-3]` (1/64) — the SQL-replayable
    * oracle fixture. */
  final case class WindowedMd5(window: Int = 16) extends ChunkBoundary {
    private[ops] def ranges(txt: Column): (Column, Column) =
      Dedup.chunkRanges(txt, window, fastHash = false)
  }

  /** Windowed `xxhash64 % 64 == 0` — codegen'd, O(window)/char. */
  final case class WindowedXxhash(window: Int = 16) extends ChunkBoundary {
    private[ops] def ranges(txt: Column): (Column, Column) =
      Dedup.chunkRanges(txt, window, fastHash = true)
  }

  /** GEAR rolling hash — O(1)/char, expected chunk length 2^maskBits
    * characters. The production boundary family. */
  final case class Gear(window: Int = 16, maskBits: Int = 6)
      extends ChunkBoundary {
    private[ops] def ranges(txt: Column): (Column, Column) = {
      val bpos = graft.functions.GearBoundaries
        .gearBoundaries(txt, window, maskBits)
      (concat(array(lit(1)), transform(bpos, b => b + 1)),
        concat(bpos, array(length(txt))))
    }
  }

  /** The legacy (window, fastHash) selector of the windowed pair. */
  def windowed(window: Int, fastHash: Boolean): ChunkBoundary =
    if (fastHash) WindowedXxhash(window) else WindowedMd5(window)
}
