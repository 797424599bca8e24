package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design notes (100 TB):
  *  - Exact dedup: hash-groupBy on md5(text) — one shuffle keyed by digest,
  *    map-side partial min; never compares full texts.
  *  - MinHash/LSH: O(n·k) signature computation is a narrow projection;
  *    candidate generation shuffles only (band_hash → doc_id) pairs, never
  *    text; verification joins shingle sets only for candidate pairs (the
  *    LSH contract: candidates ≪ n²). Brute-force n² never happens.
  *  - SimHash: narrow signature projection; near-dup = band-bucket join on
  *    signature prefixes, hamming-verified.
  *  - Embedding near-dup: brute force is the correctness baseline;
  *    [[Similarity]] provides the bucketed scale path.
  *
  * All hashing uses md5 hex (deterministic, engine-portable) — no
  * engine-specific hash functions, so DuckDB oracles reproduce signatures
  * bit-for-bit.
  */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** Exact dedup: keep the lowest id per distinct text digest. */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Exact-duplicate pairs (id_kept, id_dropped). The digest is
    * EvalOnce-fenced: it becomes a join key, and the inferred
    * `isnotnull(digest)` key constraint otherwise inlines a SECOND
    * full-document md5 into the scan filter (DupExprScan cross-node). */
  def exactPairs(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val d = df.select(
      graft.plans.EvalOnce.of(md5(col(textCol))).as("digest"), col(idCol))
    val kept = d.groupBy("digest").agg(min(col(idCol)).as("id_kept"))
    d.join(kept, "digest")
      .where(col(idCol) =!= col("id_kept"))
      .select(col("id_kept"), col(idCol).as("id_dropped"))
  }

  /** C4/RefinedWeb-style LINE-level dedup: drop every line whose exact
    * text occurs in more than `maxDocs` distinct documents (boilerplate —
    * navbars, cookie notices, license headers — repeats corpus-wide while
    * real prose does not), then reassemble each document from its
    * surviving lines in original order. Returns
    * `(idCol, clean_text, n_lines, n_removed)`; a document whose every
    * line is boilerplate keeps an empty `clean_text` rather than
    * vanishing (the caller decides whether empty docs drop).
    *
    * Scale shape (r17 reshape, the duplicateSpans window pattern):
    * explode to (id, pos, line) ONCE — the old groupBy-the-line +
    * join-back computed the explode in two physical subtrees and paid a
    * probe-side exchange on top of the frequency aggregate's. The line
    * document-frequency is now two stacked windows: `row_number` over
    * (line, id) marks each document's first occurrence of a line, and a
    * sum of those marks over the line partition is exactly
    * `countDistinct(id)` per line — carried on every row with no join.
    * Reassembly stays one groupBy on the doc id. A hot boilerplate line
    * concentrates one window partition, but the unbounded-frame sum is
    * a single streaming pass — the same row profile the old join probe
    * had; nothing is ever m² in the bucket size. */
  def dedupLines(df: DataFrame, textCol: String, idCol: String,
      maxDocs: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = Spread(df, col(idCol)).select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    lines
      .withColumn("_first",
        row_number().over(
          Window.partitionBy("line", "id").orderBy("pos")) === 1)
      .withColumn("docfreq",
        sum(when(col("_first"), 1L).otherwise(0L))
          .over(Window.partitionBy("line")))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("docfreq") > maxDocs, 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            filter(
              sort_array(collect_list(struct(
                col("pos"), (col("docfreq") <= maxDocs).as("keep"),
                col("line")))),
              x => x.getField("keep")),
            x => x.getField("line")),
          "\n").as("clean_text"))
      .select(col("id").as(idCol), col("clean_text"),
        col("n_lines"), col("n_removed"))
  }

  /** Duplicate-SPAN detection (the signal behind suffix-array substring
    * dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better"): hash every `spanN`-word window and count, per
    * document, how many of its windows occur at least `minOccurrences`
    * times corpus-wide (including intra-document repeats). A high
    * `dup_span_fraction` marks boilerplate/templated text that exact and
    * near-dup document matching both miss. Returns
    * `(idCol, n_spans, n_dup_spans, dup_span_fraction)` for every
    * document; docs shorter than `spanN` words report 0 spans.
    *
    * Scale shape (r17 reshape, guide §2.4): windows explode to |tokens|
    * rows but carry only a 32-hex digest (never the span text); the
    * corpus-wide occurrence count is a window aggregate PARTITIONED ON
    * THE DIGEST — one token-sized exchange — instead of the previous
    * groupBy + join-back, which exchanged the span rows TWICE (once
    * under the partial agg, once on the probe side) and evaluated the
    * whole md5 span battery once per branch. The per-doc rollup is one
    * aggregate on the id. A corpus-hot span (the skew surface)
    * concentrates one window partition, but the unbounded-frame count
    * is a single streaming pass per partition — the same row profile
    * the old join probe side had. Same pattern as
    * [[nearDupClusters]]'s size window. */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
      spanN: Int = 10, minOccurrences: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // conditional pre-explode spread (graft.AmpScan finding): the span
    // windows amplify each doc ~|ws|x inside the scan's stage
    val base = Spread(df, col(idCol)).select(col(idCol).as("id"),
      filter(TextAnalysis.words(col(textCol)), w => length(w) > 0).as("ws"))
    val spans = base
      .select(col("id"), col("ws"),
        explode(when(size(col("ws")) >= spanN,
            sequence(lit(0), size(col("ws")) - spanN))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("id"),
        md5(concat_ws(" ", slice(col("ws"), col("i") + 1, lit(spanN))))
          .as("h"))
    val perDoc = spans
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("occ") >= minOccurrences, 1L).otherwise(0L))
          .as("n_dup_spans"))
    base.select(col("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_fraction",
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(
            round(col("n_dup_spans").cast("double") / col("n_spans"), 6)))
  }

  /** The REMOVAL counterpart of [[duplicateSpans]] (Lee et al.'s
    * substring dedup as a transform): delete every token covered by at
    * least one corpus-duplicated `spanN`-word window, reassemble the
    * survivors in order. Returns
    * `(idCol, clean_text, n_tokens, n_removed)`; a fully-boilerplate
    * document keeps an empty `clean_text` rather than vanishing.
    *
    * Scale shape (r17 reshape, guide §2.4): span digests explode to
    * |tokens| rows; corpus-wide occurrence is a window count PARTITIONED
    * ON THE DIGEST (one token-sized exchange — the previous groupBy +
    * join-back exchanged the span rows twice and ran the md5 battery
    * once per branch). Coverage is then a RANGE window over (id, pos):
    * duplicated span STARTS union into the token stream as marker rows
    * and `max(flag) over (id order pos range spanN−1 preceding)` marks
    * each token under at least one duplicated window — replacing the
    * covered-position explode (spanN rows per dup window) + distinct +
    * (id, pos) anti-join with one exchange whose id partitioning the
    * reassembly groupBy REUSES (no further shuffle). Nothing is ever
    * quadratic in a hot span's frequency: both windows are single
    * streaming passes per partition. */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      spanN: Int = 10, minOccurrences: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // conditional pre-explode spread (graft.AmpScan): three legs below
    // explode this base within the scan's stage
    val base = Spread(df, col(idCol)).select(col(idCol).as("id"),
      filter(TextAnalysis.words(col(textCol)), w => length(w) > 0).as("ws"))
    val toks = base.select(col("id"),
      posexplode(col("ws")).as(Seq("pos", "w")))
    val spans = base
      .select(col("id"), col("ws"),
        explode(when(size(col("ws")) >= spanN,
            sequence(lit(0), size(col("ws")) - spanN))
          .otherwise(array().cast("array<int>"))).as("start"))
      .select(col("id"), col("start"),
        md5(concat_ws(" ", slice(col("ws"), col("start") + 1, lit(spanN))))
          .as("h"))
    val dupStarts = spans
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("occ") >= minOccurrences)
      .select(col("id"), col("start").as("pos"),
        lit(null).cast("string").as("w"), lit(1).as("flag"))
    val tagged = toks.select(col("id"), col("pos"), col("w"),
        lit(0).as("flag"))
      .union(dupStarts)
    // a token at pos p is covered iff some duplicated window starts in
    // [p−(spanN−1), p] — exactly the old explode(sequence(start,
    // start+spanN−1)) membership. RANGE frame (not ROWS): a position can
    // carry both its token row and a marker row
    val covered = tagged.withColumn("cov",
      max(col("flag")).over(Window.partitionBy("id").orderBy("pos")
        .rangeBetween(-(spanN - 1).toLong, 0L)))
    val kept = covered.where(col("flag") === 0 && col("cov") === 0)
    val re = kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")), " ").as("clean_text"))
    base.select(col("id"),
        coalesce(size(col("ws")), lit(0)).cast("long").as("n_tokens"))
      .join(re, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"))
  }

  // --------------------------------------------------------------- shingles

  /** Word n-gram shingles (space-joined), distinct, over an already-bound
    * words array column. IMPORTANT: pass an attribute (a column staged via
    * `withColumn`), not a `split(...)` expression — the lambda below
    * references `ws` per element and HOF lambdas don't share
    * subexpressions, so an inline split would re-tokenize the text once per
    * shingle (O(len²) per doc).
    *
    * Documents with fewer than `n` words (ubiquitous in real corpora:
    * empty strings, one-word titles) yield an EMPTY array — matching
    * DuckDB's `generate_series(1, len-2)` semantics — instead of the
    * descending `sequence(0, negative)` that made `slice(_, 0, _)` throw.
    * NULL text also yields an empty array (size(NULL) is NULL → CASE
    * falls through). */
  def shinglesOfWords(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      array_distinct(
        transform(sequence(lit(0), size(ws) - n),
          i => concat_ws(" ", slice(ws, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingles of a text column (convenience for tests/small
    * data; hot paths stage the words array first — see [[shinglesOfWords]]).
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOfWords(TextAnalysis.words(text), n)

  /** Jaccard similarity of two (distinct) shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    round(size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double"), 6)

  // ---------------------------------------------------------------- minhash

  /** MinHash signature: k independent permutations approximated by keyed
    * md5; element i = min over shingles of md5("i:shingle"). Narrow, O(n·k).
    *
    * Measured alternative (round 4, sf0.1 warm, n=3): a universal-hash
    * variant — ONE md5 per shingle + k modular permutations
    * `(aᵢ·h+bᵢ) mod (2³¹−1)` over a 28-bit base hash — ran SLOWER
    * (3.2-3.5 s vs 2.7-3.0 s for the whole LSH query) despite 12× fewer
    * md5 calls: HOF lambdas are interpreted, so per-element EXPRESSION
    * NODE COUNT (two element_at lookups + mul/add/mod/cast) costs more
    * than one short-string md5 eval. Kept the md5 form; revisit only if
    * signatures move into codegen (a custom Expression). */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shinglesCol,
        s => md5(concat(i.cast("string"), lit(":"), s)))))

  /** Estimated Jaccard from two signatures: fraction of agreeing elements. */
  def minhashSimilarity(sigA: Column, sigB: Column): Column =
    round(size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast("double") / size(sigA).cast("double"), 6)

  /** LSH band keys: signature split into `bands` bands of `rows` elements;
    * band j key = md5 of the joined slice. Docs sharing any (band, key)
    * bucket become candidate pairs. */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => md5(concat_ws(",", slice(sig, j * lit(rows) + 1, lit(rows)))))

  /** Full MinHash+LSH near-dup pipeline: returns verified candidate pairs
    * `(id_a, id_b, jaccard)` with id_a < id_b and true Jaccard ≥ threshold.
    *
    * Stages: shingle+sign (narrow) → explode band keys (×bands) → self-join
    * on (band, key) → distinct pairs → verify true Jaccard on the pair's
    * shingle sets. Only the band keys and candidate ids shuffle.
    */
  /** MinHash signatures as a relational plan: hash each DISTINCT shingle
    * once (vocabulary equi-join, like [[simhashDF]]'s word trick — no
    * broadcast hint, since the shingle universe scales with the corpus;
    * AQE decides), then per-doc element-wise minima via k codegen'd
    * `min` aggs.
    * Identical signatures to [[minhashSignature]].
    *
    * MEASURED SLOWER than the narrow expression form on this corpus
    * (10.5 s vs 4 s at sf0.1): it shuffles |shingle instances| × k hash
    * strings into the groupBy, and md5 over short strings is cheap enough
    * that the narrow per-doc transform wins. Kept for corpora where the
    * distinct-shingle vocabulary is tiny relative to instance count AND
    * signatures are wide; [[minhashNearDups]] uses the narrow form. */
  def minhashSignaturesDF(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int): DataFrame = {
    val base = Spread(df, col(idCol)).select(
      col(idCol).as("id"),
      TextAnalysis.words(col(textCol)).as("ws"))
      .withColumn("sh", shinglesOfWords(col("ws"), shingleN))
      .select("id", "sh")
    val toks = base.select(col("id"), explode(col("sh")).as("s"))
    val vocab = toks.select("s").distinct()
      .withColumn("hs", array((0 until k).map(i =>
        md5(concat(lit(i.toString), lit(":"), col("s")))): _*))
    val aggs = (0 until k).map(i => min(element_at(col("hs"), i + 1)).as(s"h$i"))
    // no broadcast hint: the distinct-shingle universe scales with the
    // corpus (far past broadcast size at scale) — AQE picks the strategy
    val sigs = toks.join(vocab, "s")
      .groupBy("id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
    base.join(sigs, "id")
  }

  /** Hot-bucket guard (`maxBucket > 0`): a band bucket holding m docs
    * (identical signatures across a boilerplate-heavy corpus) makes the
    * plain self-join emit m² candidate rows in ONE task. With a cap,
    * oversized buckets sub-split into ⌈m/maxBucket⌉ groups and every
    * upper-triangle group cell becomes its own join key — the same exact
    * block-grid as [[simhashNearDups]]; per-task candidate output is
    * bounded by maxBucket², the pair set is IDENTICAL to the uncapped
    * join. Bucket sizes are a same-keyed aggregate joined back on
    * (band, key) — never broadcast (bucket count is data-sized, unlike
    * simhash's ≤2^prefixBits). Default 0 keeps the plain plan (what the
    * oracle runs). */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 0): DataFrame = {
    val rows = k / bands
    // persist (id, shingles, signature): feeds the banded self-join twice
    // plus the verification join; tiny relative to the text, caches at
    // scale. Cache OWNERSHIP is the session loop's: callers drop it via
    // spark.catalog.clearCache() after consuming the result (Verify/Bench
    // do, per query) — the returned plan is lazy so the query itself
    // cannot unpersist
    val base = Spread(df, col(idCol)).select(
      col(idCol).as("id"),
      TextAnalysis.words(col(textCol)).as("ws"))
      .withColumn("sh", shinglesOfWords(col("ws"), shingleN))
      .withColumn("sig", minhashSignature(col("sh"), k))
      .select("id", "sh", "sig")
      .persist()
    val banded = base.select(col("id"),
        posexplode(lshBandKeys(col("sig"), bands, rows)).as(Seq("band", "key")))
    val cands = (if (maxBucket <= 0) {
      banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    } else {
      val sizes = banded.groupBy("band", "key")
        .agg(count(lit(1)).as("m"))
        .select(col("band"), col("key"),
          ceil(col("m") / maxBucket).cast("int").as("nsub"))
      // sub-group from a type-agnostic hash: ids may be strings — a raw
      // pmod(id, nsub) would null out (or ANSI-fail) non-numeric ids and
      // silently drop every pair in capped buckets
      val sub = banded.join(sizes, Seq("band", "key"))
        .withColumn("g", pmod(xxhash64(col("id")), col("nsub")).cast("int"))
      val xrep = sub.select(col("band"), col("key"), col("id"),
        col("g").as("ci"),
        explode(sequence(col("g"), col("nsub") - 1)).as("cj"))
      val yrep = sub.select(col("band"), col("key"), col("id"),
        explode(sequence(lit(0), col("g"))).as("ci"),
        col("g").as("cj"))
      xrep.as("x").join(yrep.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.ci") === col("y.ci") && col("x.cj") === col("y.cj") &&
          (col("x.ci") < col("x.cj") || col("x.id") < col("y.id")))
        .select(least(col("x.id"), col("y.id")).as("id_a"),
          greatest(col("x.id"), col("y.id")).as("id_b"))
    }).distinct()
    val withSh = cands
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
    withSh.select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Blocked n-gram Jaccard near-dup (no LSH) via an inverted shingle
    * index: explode (id, shingle), self-join on the shingle within a length
    * block, count co-occurrences per pair → |a∩b|; |a∪b| = nₐ+n_b−|a∩b|.
    *
    * Scale shape: pairs with zero shingle overlap NEVER materialize (a
    * pairwise array_intersect over all blocked pairs does n² interpreted
    * set-ops; this does one codegen'd hash join + hash aggregate keyed by
    * shingle/pair). Shuffle volume = shingle occurrence count, not n².
    * A hot shingle shared by m docs contributes m² pair rows — set
    * `maxShinglePostings` to drop shingles whose posting list exceeds the
    * cap (stop-shingles: "the the the" across a 100 TB corpus would melt
    * one reducer). The cap is the standard approximation — intersections
    * lose the dropped ubiquitous shingles, so jaccard is slightly
    * UNDER-estimated for pairs that share them (never over), and a pair
    * related only through stop-shingles is not a meaningful near-dup.
    * Default 0 = exact (the oracle query runs exact). */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.3,
      lenBucket: Int = 50, maxShinglePostings: Int = 0): DataFrame = {
    val base = Spread(df, col(idCol)).select(
      col(idCol).as("id"),
      (length(col(textCol)) / lenBucket).cast("long").as("blk"),
      TextAnalysis.words(col(textCol)).as("ws"))
      .withColumn("sh", shinglesOfWords(col("ws"), shingleN))
      .select(col("id"), col("blk"), col("sh"), size(col("sh")).as("n"))
      .persist()
    val inv0 = base.select(col("id"), col("blk"), col("n"),
      explode(col("sh")).as("s"))
    val inv =
      if (maxShinglePostings <= 0) inv0
      else {
        // posting-list sizes: one small aggregate keyed by shingle; the
        // hot tail is broadcast back as an anti-join (stop list is tiny
        // by construction — only shingles above the cap)
        val hot = inv0.groupBy("s").agg(count(lit(1)).as("m"))
          .where(col("m") > maxShinglePostings).select("s")
        inv0.join(broadcast(hot), Seq("s"), "left_anti")
      }
    inv.as("x").join(inv.as("y"),
        col("x.s") === col("y.s") && col("x.blk") === col("y.blk") &&
        col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ---------------------------------------------------------------- simhash

  /** Number of SimHash bits (60 = 15 md5 hex nibbles, fits a signed long). */
  val SimhashBits = 60

  /** SimHash-60 signature: per-bit majority vote over word hashes, with a
    * 60-bit word hash from md5 hex nibbles (portable integer arithmetic:
    * nibble value × 16^position over the first 15 hex chars — reproducible
    * nibble-by-nibble in any engine with md5 + instr).
    *
    * Performance shape: higher-order-function lambdas are interpreted and
    * do NOT share common subexpressions, so each stage binds its result as
    * a lambda variable before the next references it — md5 runs once per
    * word, the 60-bit hash once per word, each shift once per (word, bit).
    * A naive single-expression version re-evaluates md5 ~900× per word. */
  def simhash(text: Column): Column = {
    val ws = TextAnalysis.words(text)
    val nWords = size(ws)
    // stage 1: one md5 per word (hex bound as lambda var downstream)
    val hexes = transform(ws, w => md5(w))
    // stage 2: one 60-bit hash per word; `hex` is a bound value, so the 15
    // nibble lookups don't recompute the digest
    val hashes = transform(hexes, hex =>
      (0 until 15).map { j =>
        (instr(lit("0123456789abcdef"), substring(hex, j + 1, 1)) - 1)
          .cast("long") * (1L << (4 * (14 - j)))
      }.reduce(_ + _))
    // stage 3: per-bit counts; `h` is bound, so 60 shifts share one hash
    val bitCounts = aggregate(
      hashes,
      array_repeat(lit(0), SimhashBits),
      (acc, h) => {
        val bits = array((0 until SimhashBits).map(b =>
          shiftright(h, b).bitwiseAND(1).cast("int")): _*)
        zip_with(acc, bits, (c, x) => c + x)
      })
    (0 until SimhashBits).map { b =>
      when(element_at(bitCounts, b + 1) * 2 > nWords, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** SimHash-60 as a relational plan: explode words, hash each DISTINCT
    * word once (word hashes are shared across all documents via an
    * equi-join on the vocabulary), then 60 codegen'd conditional sums per
    * document. Same arithmetic as [[simhash]] (identical signatures), but
    * fully inside whole-stage codegen — no interpreted HOF in the hot
    * path — and the per-word md5 count drops from |corpus tokens| to
    * |vocabulary|. The vocabulary side carries NO broadcast hint: it is
    * corpus-derived (word vocab grows with the corpus), so the join
    * strategy is left to AQE — broadcast at runtime while the vocab fits,
    * graceful shuffle join when it doesn't, never a hinted OOM. */
  def simhashDF(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // conditional pre-explode spread (r17, BatteryScan/AmpScan rule):
    // the probe-side token explode + 60 per-bit partial sums run below
    // the per-doc groupBy's exchange — single-task on a one-split table
    val toks = Spread(df, col(idCol)).select(col(idCol).as("id"),
        explode(TextAnalysis.words(col(textCol))).as("w"))
    // digest bound ONCE as its own column: inlining md5 into each of the
    // 15 nibble terms put 15 copies of the digest in the vocab
    // projection (DupExprScan: Md5 x15 in HashAggregate). CollapseProject
    // keeps a non-cheap multi-referenced alias in its own projection, so
    // the hex column evaluates once per vocabulary word.
    val hexNibbles = (0 until 15).map { j =>
      (instr(lit("0123456789abcdef"), substring(col("hex"), j + 1, 1)) - 1)
        .cast("long") * (1L << (4 * (14 - j)))
    }.reduce(_ + _)
    val vocab = toks.select("w").distinct()
      .withColumn("hex", md5(col("w")))
      .withColumn("h", hexNibbles).drop("hex")
    val aggs = count(lit(1)).as("n_words") +:
      (0 until SimhashBits).map(b =>
        sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"b$b"))
    val perDoc = toks.join(vocab, "w")
      .groupBy("id")
      .agg(aggs.head, aggs.tail: _*)
    // majority-pack as a native kernel (plans.MajorityPack): the
    // unrolled 60-arm when-chain generated an ~11.5 KB method — past the
    // JIT's 8 000-byte ceiling (CodegenAudit catch). Exact integer
    // arithmetic, so signatures are identical by construction.
    perDoc.select(col("id"), {
      import org.apache.spark.sql.graft.ColumnBridge
      ColumnBridge.column(graft.plans.MajorityPack(
        ColumnBridge.expression(
          array((0 until SimhashBits).map(b => col(s"b$b")): _*)),
        ColumnBridge.expression(col("n_words")),
        SimhashBits)).as("simhash")
    })
  }

  /** SimHash near-dup pairs: block on the top `prefixBits` bits (cheap LSH
    * on the signature prefix), verify hamming distance ≤ maxHamming.
    *
    * Hot-bucket guard (`maxBucket > 0`): a skewed corpus (boilerplate docs
    * sharing a signature prefix) puts m docs in one prefix bucket, and the
    * plain self-join then makes ONE task produce m² pair rows. With a cap,
    * each oversized bucket is sub-split into `nsub = ⌈m / maxBucket⌉`
    * groups and every upper-triangle (group_i ≤ group_j) cell becomes its
    * own join key — the same block-grid shape as [[embeddingNearDups]].
    * Per-task pair output is bounded by maxBucket², independent of m, and
    * the result is EXACT (identical to the uncapped join — cells cover
    * every pair exactly once), at the cost of replicating each hot-bucket
    * row ~nsub+1 times through the shuffle. Default 0 keeps the plain
    * single-join plan (what the oracle query runs). */
  def simhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 12, prefixBits: Int = 8,
      maxBucket: Int = 0): DataFrame = {
    val base0 = simhashDF(df, textCol, idCol)
      .withColumnRenamed("simhash", "sh")
      .withColumn("blk", shiftright(col("sh"), 60 - prefixBits))
    if (maxBucket <= 0) {
      val base = base0.persist() // hash once, join twice
      base.as("x").join(base.as("y"),
          col("x.blk") === col("y.blk") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
        .where(col("hamming") <= maxHamming)
    } else {
      // bucket sizes: one tiny aggregate (≤ 2^prefixBits rows), broadcast
      val sizes = base0.groupBy("blk").agg(count(lit(1)).as("m"))
        .select(col("blk"),
          ceil(col("m") / maxBucket).cast("int").as("nsub"))
      // type-agnostic sub-group hash (ids may be strings; see
      // minhashNearDups)
      val base = base0.join(broadcast(sizes), "blk")
        .withColumn("g", pmod(xxhash64(col("id")), col("nsub")).cast("int"))
        .persist()
      // row with sub-group g is the LEFT member of cells (g, j), j ≥ g,
      // and the RIGHT member of cells (i, g), i ≤ g — each unordered pair
      // meets in exactly one cell; the diagonal (ci == cj) holds both
      // orientations, dropped to one by the id ordering
      val xrep = base.select(col("blk"), col("id"), col("sh"),
        col("g").as("ci"),
        explode(sequence(col("g"), col("nsub") - 1)).as("cj"))
      val yrep = base.select(col("blk"), col("id"), col("sh"),
        explode(sequence(lit(0), col("g"))).as("ci"),
        col("g").as("cj"))
      xrep.as("x").join(yrep.as("y"),
          col("x.blk") === col("y.blk") &&
          col("x.ci") === col("y.ci") && col("x.cj") === col("y.cj") &&
          (col("x.ci") < col("x.cj") || col("x.id") < col("y.id")))
        .select(least(col("x.id"), col("y.id")).as("id_a"),
          greatest(col("x.id"), col("y.id")).as("id_b"),
          bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
        .where(col("hamming") <= maxHamming)
    }
  }

  // ---------------------------------------------------------------- clusters

  /** Connected components over a near-dup pair list — the end-step that
    * turns pairwise matches into "which docs to keep": every document
    * gets a `cluster_id` (the MINIMUM doc id reachable through undirected
    * near-dup edges, deterministic), `n_cluster`, and `is_survivor`
    * (the canonical minimum member).
    *
    * Algorithm (scale path): alternating LARGE-STAR / SMALL-STAR edge
    * rewriting — the MapReduce connected-components algorithm of
    * Kiveris et al., "Connected Components in MapReduce and Beyond"
    * (SoCC'14): each round, large-star connects every node's
    * strictly-larger neighbors to the minimum of its closed
    * neighborhood, small-star connects the smaller neighbors (and the
    * node) to that minimum; the edge set converges to per-component
    * stars centered at the component MINIMUM in O(log² n) rounds on
    * ANY graph (O(log n) in practice). The round bound is a real
    * 100 TB hazard, not theory: the previous implementation was plain
    * min-label propagation — one edge-hop per round, O(diameter)
    * rounds — which is fine on near-dup CLIQUES (diameter 1–2) but a
    * CHAINED dup family (templated pages drifting A~B~C~… with A≁C,
    * exactly what boilerplate evolution produces at corpus scale) has
    * unbounded diameter. The r15 DedupProbe caught it: on a 100k-doc
    * corpus whose near-dup graph chained into 119 large components,
    * propagation was still ~20k labels short of converging after 25
    * rounds (~250 s; a Shiloach–Vishkin label-jump variant stalled the
    * same way — label shortcuts don't help when the stall is a
    * local-minimum node, only edge rewiring does); large-star/
    * small-star converges the same graph in 9 rounds / 37 s with
    * byte-identical labels to a single-process union-find. Each round
    * is two grouped minima + two joins + a distinct; convergence is an
    * exact set comparison (count + one-direction anti-join). Driver
    * coordination is one count per round (iterative graph algorithms
    * are driver-paced by nature); lineage is truncated every round so
    * round N's plan doesn't embed rounds 1..N-1 (the classic
    * iterative-Spark OOM). Nothing vertex- or edge-sized ever reaches
    * the driver. */
  def connectedComponents(
      vertices: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25,
      smallGraphEdgeCap: Long = 2000000L): DataFrame = {
    // Small-graph fast path: near-dup edge lists are usually TINY next to
    // the corpus (62 k edges over 5 k media at sf0.1), and min-label
    // propagation pays one Spark job per diameter round — pure scheduling
    // at high core counts (measured: the 5+ s tail of mm_media_clusters).
    // When the whole edge list fits one task's working set (≤ cap edges ≈
    // 32 MB of id pairs), run union-find in a SINGLE executor task — one
    // job instead of diameter-many — and join labels back. Executor-side,
    // not a driver collect; the iterative path below remains the scale
    // route and the cap keeps the kernel off data-sized graphs. Same
    // output by construction: union-by-minimum makes each root the
    // component minimum, exactly the propagation fixpoint.
    val spark = vertices.sparkSession
    val integralIds = {
      import org.apache.spark.sql.types._
      vertices.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    // persist the projected edges first: `edges` is typically the OUTPUT
    // OF A WHOLE DEDUP PIPELINE (shingle + index + verify), and both the
    // size probe below and either component path re-read them — without
    // the cache each pass would recompute that pipeline end-to-end
    // (measured 5.2 s → 2.6 s at sf0.1)
    val e0 = edges.select(col(aCol).as("src"), col(bCol).as("dst")).persist()
    val nEdges = e0.count()
    if (integralIds && nEdges <= smallGraphEdgeCap) {
      import spark.implicits._
      val labels = e0
        .select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (a, b) =>
            parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
            val ra = find(a); val rb = find(b)
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
          }
          parent.keysIterator.map(k => (k, find(k)))
        }
        .toDF("id", "label").persist()
      // materialize NOW: callers release their pair-frame caches as soon
      // as this returns (the eager-labels contract the iterative path
      // has always honored) — a lazy return would recompute the whole
      // upstream dedup pipeline uncached on the caller's first action
      labels.count()
      e0.unpersist()
      return vertices.select(col(idCol).cast("long").as("id"))
        .join(labels, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("label"), col("id")).as("cluster_id"))
    }
    // large-star: for every node u (over the symmetrized adjacency),
    // connect each strictly-larger neighbor to m = min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      sym.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    // small-star: direct every edge large→small; for every node u,
    // connect its smaller neighbors (and u itself) to m = min(N(u)∪{u})
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mins = dir.groupBy("src").agg(min("dst").as("m"))
      val withM = dir.join(mins, "src")
      withM.where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    var cur = e0.where(col("src") =!= col("dst")).distinct().persist()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val ls = largeStar(cur).persist()
      // reset the Catalyst lineage EVERY round by rebuilding the frame
      // from the round's persisted RDD — round N's plan would otherwise
      // embed rounds 1..N-1 (the iterative-Spark planning blow-up; an
      // amortized every-5th-round reset let the explain string alone
      // OOM the test JVM). Unlike localCheckpoint, the cache stays
      // CATALOG-owned: the session loop's clearCache drops everything,
      // and recompute after eviction still works (the RDD reads through
      // the InMemoryRelation, whose child plan remains intact).
      val ss0 = smallStar(ls).persist()
      val next = spark.createDataFrame(ss0.rdd, ss0.schema).persist()
      // materialize next's OWN cache while ls/ss0 are still cached —
      // dropping them first would make every later read of `next`
      // cascade a recompute through the whole round chain
      val nNext = next.count()
      // exact convergence: small-star output is canonical (big → small,
      // distinct), so equal counts + an empty one-direction anti-join
      // prove set equality
      val prevCanon = cur.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst")).distinct()
      changed =
        if (nNext != prevCanon.count()) 1L
        else next.exceptAll(prevCanon).limit(1).count()
      ls.unpersist(); ss0.unpersist()
      cur.unpersist()
      cur = next
      i += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "cluster_ids are incomplete for some components; raise maxIters")
    // at convergence the edge set is per-component stars (node → its
    // component minimum): labels = star target, roots and singleton
    // vertices label themselves
    val labels = vertices.select(col(idCol).as("id"))
      .join(cur.select(col("src").as("id"), col("dst").as("cluster_id")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      .persist()
    labels.count() // eager-labels contract (see the fast path above)
    cur.unpersist(); e0.unpersist()
    labels
  }

  /** Near-dup clusters + survivor flag over any pair list (minhash,
    * simhash, jaccard, embedding — anything emitting (id_a, id_b)). */
  def nearDupClusters(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIters: Int = 25): DataFrame = {
    val cc = connectedComponents(docs, idCol, pairs, aCol, bCol, maxIters)
    // cluster sizes as a window count over the labels (r16 optimization,
    // guide §2.4): the former groupBy + join-back paid an aggregate
    // exchange AND a join exchange of the full label set — `sizes` is
    // cluster-count-sized, which is corpus-sized in the worst case
    // (every doc its own cluster), so it can never be a broadcast side.
    // One partitioned window = one exchange, same rows.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    cc.select(col("id").as(idCol), col("cluster_id"),
      count(lit(1)).over(w).as("n_cluster"),
      (col("id") === col("cluster_id")).as("is_survivor"))
  }

  // ------------------------------------------------------------- embeddings

  /** Embedding near-dup: pairs with cosine ≥ threshold (brute force — the
    * correctness baseline; see [[Similarity]] for the bucketed scale path).
    *
    * Executed as a **block-grid**: vectors are hashed into `nBlocks`
    * roughly-equal blocks (pmod of the id), each block is one grouped row
    * of (id, normalized vector) pairs, and every upper-triangle grid cell
    * (block_i ≤ block_j) becomes one task that runs a primitive-array
    * dot-product kernel over its two blocks. Nothing is ever collected to
    * the driver, and no single executor needs the whole corpus — each task
    * holds exactly two blocks (2·n/B vectors), so memory per task is
    * tunable with `nBlocks` independent of n. Replication cost is the
    * standard O(n·B) block shuffle, vs the driver-broadcast variant's
    * driver OOM at scale. The O(n²) dot-product loop itself is numeric
    * kernel territory where interpreted array expressions (HOF folds,
    * BroadcastNestedLoopJoin conditions) cost ~100× over primitive math;
    * float summation order matches the expression fold (sequential sum),
    * so scores are bit-identical and oracle-stable. Pairs are emitted as
    * (smaller id, larger id), within-cell for the diagonal and cross-block
    * otherwise — the exact pair set of the all-pairs loop. */
  def embeddingNearDups(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, dim: Int = 0, nBlocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b =
      if (nBlocks > 0) nBlocks
      else math.max(4, math.ceil(math.sqrt(
        spark.sparkContext.defaultParallelism * 2)).toInt)
    // struct fields named _1/_2 so the tuple encoder below resolves; no
    // persist needed: the two grid joins reference the identical subplan
    // and ReuseExchange evaluates the block aggregation once per action
    val blocks = Similarity.normalized(df, vecCol, "v")
      .select(pmod(col(idCol).cast("long"), lit(b)).cast("int").as("blk"),
        col(idCol).cast("long").as("id"), col("v"))
      .groupBy("blk")
      .agg(collect_list(struct(col("id").as("_1"), col("v").as("_2"))).as("vecs"))
    val grid = (for { i <- 0 until b; j <- i until b } yield (i, j))
      .toDF("bi", "bj")
    val cells = grid
      .join(blocks.select(col("blk").as("bi"), col("vecs").as("va")), Seq("bi"))
      .join(blocks.select(col("blk").as("bj"), col("vecs").as("vb")), Seq("bj"))
      .select(col("bi"), col("bj"), col("va"), col("vb"))
      // spread cells across tasks: the join leaves the output partitioned
      // by its key (bj), so all of a column's cells run SERIALLY in one
      // task — b tasks for b(b+1)/2 cells, half the cluster idle and the
      // quadratic kernel bottlenecked on the largest column (SimProbe
      // catch, r15 — same class in semanticNearDups/knnGraphIvf). One
      // cell-sized exchange buys per-cell parallelism.
      .repartition(col("bi"), col("bj"))
      .as[(Int, Int, Array[(Long, Array[Double])], Array[(Long, Array[Double])])]
    val pairs = cells.flatMap { case (bi, bj, va0, vb0) =>
      // sort by id so the diagonal's i<j sharding and the emitted
      // (min,max) ordering are deterministic
      val va = va0.sortBy(_._1)
      val vb = if (bi == bj) va else vb0.sortBy(_._1)
      val diag = bi == bj
      va.iterator.zipWithIndex.flatMap { case ((ia, xa), i) =>
        val js = if (diag) Iterator.range(i + 1, vb.length)
                 else Iterator.range(0, vb.length)
        js.flatMap { j =>
          val (ib, xb) = vb(j)
          var s = 0.0
          var k = 0
          while (k < xa.length) { s += xa(k) * xb(k); k += 1 }
          if (s >= threshold)
            Iterator.single((math.min(ia, ib), math.max(ia, ib)))
          else Iterator.empty
        }
      }
    }.toDF("id_a", "id_b")
    pairs
  }

  /** SemDeDup-style semantic dedup: cluster the embedding space, then
    * compare pairs ONLY within a cluster — the scale path that turns the
    * all-pairs O(n²) of [[embeddingNearDups]] into k × (n/k)² work, on
    * the observation that semantic duplicates land in the same cluster
    * (cross-cluster near-dups are below the threshold by construction of
    * the clustering; SemDeDup accepts that recall trade).
    *
    * Composition of the IVF machinery: [[Similarity.centroids]] (the
    * deterministic id-pick set — swap [[Similarity.trainCentroids]] in
    * production) → [[Similarity.assignBuckets]] (one broadcast-assign
    * narrow pass) → a bucket-keyed self-join whose equi-key is the
    * bucket id. Per-task work is the square of ONE cluster, controlled
    * by `nCentroids` (SemDeDup sizing: k ≈ n/500); a pathologically hot
    * cluster is the same skew surface as simhash prefix blocks — cap it
    * by raising k or fall back to [[embeddingNearDups]]'s block grid
    * within the bucket.
    *
    * Emits `(id_a, id_b, bucket)` with `id_a < id_b`, cosine ≥
    * `threshold`.
    *
    * The within-cluster pair scan is the [[embeddingNearDups]] block
    * grid with the bucket id prepended to the cell key: a naive
    * self-join on `bucket` alone has only `nCentroids` distinct keys —
    * `nCentroids` tasks no matter how many executors — where the
    * per-bucket (block_i ≤ block_j) grid yields
    * `nCentroids × B(B+1)/2` independent cells, and the dot runs as a
    * primitive-array kernel instead of per-pair HOF folds. */
  def semanticNearDups(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nCentroids: Int, dim: Int = 0,
      nBlocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b =
      if (nBlocks > 0) nBlocks
      else math.max(2, math.ceil(math.sqrt(
        spark.sparkContext.defaultParallelism * 2.0 /
          math.max(1, nCentroids))).toInt)
    val norm = Similarity.normalized(df, vecCol, "v")
      .select(col(idCol), col("v"))
    val cents = Similarity.centroids(df, vecCol, idCol, nCentroids)
    val asg = Similarity.assignBuckets(norm, cents, idCol, dim)
    val blocks = asg
      .select(col("bucket").cast("long").as("bucket"),
        pmod(col(idCol).cast("long"), lit(b)).cast("int").as("blk"),
        col(idCol).cast("long").as("id"), col("v"))
      .groupBy("bucket", "blk")
      .agg(collect_list(struct(col("id").as("_1"), col("v").as("_2")))
        .as("vecs"))
    val cells = blocks
      .select(col("bucket"), col("blk").as("bi"), col("vecs").as("va"))
      .join(blocks.select(col("bucket"), col("blk").as("bj"),
        col("vecs").as("vb")), Seq("bucket"))
      .where(col("bi") <= col("bj"))
      .select(col("bucket"), col("bi"), col("bj"), col("va"), col("vb"))
      // spread cells across tasks: the join leaves the output
      // partitioned by BUCKET, so every cell of a hot bucket runs
      // SERIALLY in one task and the block grid buys nothing (SimProbe
      // catch, r15). One cell-sized exchange restores the b²
      // parallelism the grid exists for.
      .repartition(col("bucket"), col("bi"), col("bj"))
      .as[(Long, Int, Int,
        Array[(Long, Array[Double])], Array[(Long, Array[Double])])]
    cells.flatMap { case (bucket, bi, bj, va0, vb0) =>
      val va = va0.sortBy(_._1)
      val vb = if (bi == bj) va else vb0.sortBy(_._1)
      val diag = bi == bj
      va.iterator.zipWithIndex.flatMap { case ((ia, xa), i) =>
        val js = if (diag) Iterator.range(i + 1, vb.length)
                 else Iterator.range(0, vb.length)
        js.flatMap { j =>
          val (ib, xb) = vb(j)
          var s = 0.0
          var k = 0
          while (k < xa.length) { s += xa(k) * xb(k); k += 1 }
          if (s >= threshold)
            Iterator.single((math.min(ia, ib), math.max(ia, ib), bucket))
          else Iterator.empty
        }
      }
    }.toDF("id_a", "id_b", "bucket")
  }
}
