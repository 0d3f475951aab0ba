package graft.operators

import graft.{Ql, Tables}
import graft.Ql.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines (builder brief + M4):
  * exact (hash groupBy), n-gram/token-set Jaccard with blocking,
  * MinHash+LSH banding, SimHash with hamming banding, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-shuffle on md5(text) — the canonical
  *    first pass; at cluster scale the hash column would be persisted.
  *  - The exact-Jaccard pass is quadratic and only run inside small
  *    blocking groups (lang, source); it is the verification oracle for
  *    the sub-quadratic sketches, not the scale path.
  *  - MinHash+LSH is the scale path: per-doc signature (narrow, codegen'd
  *    higher-order expressions, no UDF), explode to (band, bucket) keys,
  *    one shuffle on bucket, self-join only within buckets — candidate
  *    pairs ∝ true near-dups, not n².
  *  - SimHash is the cheap fuzzy pass: one 64-bit fingerprint per doc,
  *    4×16-bit chunk banding guarantees recall for hamming ≤ 3
  *    (pigeonhole), verify with bit_count(xor).
  *  - Hash-based sketches (xxhash64) are engine-specific => no DuckDB
  *    oracle for the LSH/SimHash variants (rows-only checks); their
  *    pair-quality is asserted against the exact-Jaccard pass in specs.
  */
object Dedup {

  /** The documents fixture is one parquet file => one input partition;
    * per-row sketch computation (minhash/simhash signatures) is CPU-bound
    * interpreted expression work, so spread it across all cores first.
    * At cluster scale the input would already arrive in many splits —
    * this repartition is the local stand-in, and the tiny doc rows make
    * the shuffle negligible next to the compute it parallelizes. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)

  private val toks = "split(text, ' ')"

  /** Candidate (a_id, b_id) pairs from a (doc_id, bands) signature frame:
    * explode to (band_id, bucket), mask mega-buckets, self-join per
    * bucket, emit each pair from its first shared SURVIVING band only.
    *
    * The bucket cap is the straggler guard for cluster scale: a bucket of
    * B docs emits B²/2 raw pairs, so one degenerate bucket serializes a
    * whole stage. Capped buckets are MASKED to a per-doc sentinel hash
    * rather than dropped: sentinels never collide (no pairs, no
    * straggler), and because the masked values go back into the bands
    * array, the first-shared-band test sees only surviving bands — docs
    * sharing one capped bucket still pair through their other shared
    * bands. A pair whose ONLY shared bands are capped is dropped by
    * design: such docs sit in a mega-cluster, which is what the
    * O(n)-output `dedup_minhash_clusters` path handles.
    *
    * Implementation notes: the oversized list joins in as a BROADCAST
    * flag — a count-over-window would pre-partition the self-join input
    * by bucket and serialize the skewed bucket on one straggler task
    * with AQE unable to re-split it (measured 10x slower at sf0.1). The
    * "first shared band" test is an unrolled boolean conjunction (the
    * size(filter(sequence(...))) formulation is an interpreted lambda
    * per collision pair — 64% of the round-1 bench). */
  private[graft] def lshCandidatePairs(sig: DataFrame, nBands: Int = 8,
      bucketCap: Int = 10000): DataFrame = {
    // nBands=1 would build an EMPTY first-shared-band conjunction below
    // (expr("") is a parse error at plan time), and a 1-band LSH is
    // never what anyone means anyway.
    require(nBands >= 2, s"lshCandidatePairs needs >= 2 bands, got $nBands")
    val raw = sig
      .select(col("doc_id"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bucket")
    val oversized = raw.groupBy(col("band_id"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > bucketCap)
      .select(col("band_id"), col("bucket"), lit(true).as("capped"))
    val masked = raw
      .join(broadcast(oversized), Seq("band_id", "bucket"), "left")
      .selectExpr("doc_id", "band_id",
        "CASE WHEN capped THEN xxhash64('graft-capped', doc_id, band_id) " +
          "ELSE bucket END AS bucket")
    val withBands = masked.groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(band_id, bucket)))" +
        ", p -> p.bucket) AS bands"))
    // Explicit numbered repartition before the self-join: its INPUT is a
    // few MB (AQE would coalesce the post-aggregation stream to ~1
    // partition) but its OUTPUT is the full collision-pair fan-out —
    // sizing the stage by input serializes the explosion in one task.
    // REPARTITION_BY_NUM is exempt from AQE coalescing.
    val banded = withBands
      .repartition(sig.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("bands"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bucket")
    val firstSharedBand = (0 until nBands - 1)
      .map(i => s"(x.band_id <= $i OR x.bands[$i] != y.bands[$i])")
      .mkString(" AND ")
    banded.as("x")
      .join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(expr(firstSharedBand))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      // candidate-count metric (CollectMetrics is a pass-through
      // accumulator, no extra job): candidate explosion — the LSH
      // failure mode where banding degenerates and pair count heads
      // toward n² — shows up in qe.observedMetrics / any
      // QueryExecutionListener instead of only as a slow stage.
      .observe("lsh_candidates", count(lit(1)).as("n_candidates"))
  }

  /** Distinct token set per doc (the unit for Jaccard). */
  private val tokSet = s"array_distinct($toks)"

  /** Word 3-gram shingle HASHES from a MATERIALIZED token-hash column
    * `th` (never from strings: hashing each token once and combining
    * the three 8-byte longs per shingle skips building every shingle's
    * ~30-byte string — no string allocation anywhere in the verify
    * path. And never inline the split() into the per-shingle lambda:
    * expression interpretation re-evaluates it per element access,
    * turning an O(n) pass into O(n²) regex splits per document.) */
  private val shingleHashesFromTokenHashes =
    """CASE WHEN size(th) < 3 THEN array(xxhash64(th))
      |ELSE transform(sequence(0, size(th)-3),
      |  i -> xxhash64(th[i], th[i+1], th[i+2])) END"""
      .stripMargin

  val queries: Map[String, Q] = Map(
    // Exact dedup: md5 grouping. One row of corpus-level stats.
    "dedup_exact_stats" -> ((s, dir) => {
      docs(s, dir)
        .selectExpr("md5(text) AS h", "doc_id")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"))
    }),

    // Token-set Jaccard near-dup pairs, blocked by (lang, source) —
    // EXACT, but no longer the naive quadratic: the r17 10× re-proof
    // measured the all-pairs-within-block form at 15× wall-clock for
    // 10× data (block sizes grow linearly, pairs quadratically), the
    // same scale-killer the r16 re-proof caught in
    // dedup_incremental_exact. Same exact fix, the PPJoin prefix
    // filter (Bayardo WWW'07), now in SELF-JOIN form: tokens ordered
    // by ascending corpus frequency, each doc keeps only its
    // |s| − ceil(0.8·|s|) + 1 rarest tokens as a prefix, and a pair
    // with J ≥ 0.8 provably shares a prefix token — candidates come
    // from an EQUI join on (prefix token, lang, source) with the
    // 0.8|A| ≤ |B| ≤ |A|/0.8 length band as residual, bare ids pair
    // up (arrays never ride the pair join), and only collisions pay
    // the one-pass native verify. Survivors and scores are IDENTICAL
    // to the naive form (the filter admits every true pair) — same
    // DuckDB oracle, which stays the transparent all-pairs SQL.
    "dedup_token_jaccard" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val t = 0.8
      val d = docs(s, dir)
        .selectExpr("doc_id", "lang", "source", s"$tokSet AS toks")
      val tokEx = d.select(col("doc_id"), explode(col("toks")).as("tok"))
      val freq = tokEx.groupBy("tok").agg(count(lit(1)).as("f"))
      val sorted = tokEx.join(freq, "tok")
        .groupBy("doc_id")
        .agg(expr("transform(array_sort(collect_list(struct(f, tok)))" +
          ", p -> p.tok)").as("stoks"))
      // empty-token docs have no exploded rows: keep them with an
      // empty prefix (no candidates — the naive form's j >= 0.8
      // filter dropped their pairs anyway)
      val d2 = d.join(sorted, Seq("doc_id"), "left_outer")
        .withColumn("stoks", coalesce(col("stoks"),
          expr("CAST(array() AS ARRAY<STRING>)")))
      val pfx = s"slice(stoks, 1, size(stoks) " +
        s"- CAST(ceil($t * size(stoks)) AS INT) + 1)"
      val pa = d2.select(col("doc_id").as("a_id"), col("lang"),
        col("source"), size(col("stoks")).as("a_n"),
        explode(expr(pfx)).as("ptok"))
      val pb = d2.select(col("doc_id").as("b_id"), col("lang"),
        col("source"), size(col("stoks")).as("b_n"),
        explode(expr(pfx)).as("ptok"))
      val candIds = pa.join(pb, Seq("lang", "source", "ptok"))
        .filter(col("a_id") < col("b_id") &&
          expr(s"b_n >= ceil($t * a_n)") &&
          expr(s"a_n >= ceil($t * b_n)"))
        .select("a_id", "b_id").distinct()
      val toksById = d2.select(col("doc_id"), col("stoks"))
      candIds
        .join(toksById.select(col("doc_id").as("a_id"),
          col("stoks").as("a_toks")), Seq("a_id"))
        .join(toksById.select(col("doc_id").as("b_id"),
          col("stoks").as("b_toks")), Seq("b_id"))
        .selectExpr("a_id", "b_id",
          "graft_jaccard(a_toks, b_toks) AS jaccard")
        .filter(col("jaccard") >= t)
        .orderBy(desc("jaccard"), asc("a_id"), asc("b_id"))
    }),

    // MinHash + LSH banding (the 100 TB path): 32-perm signature over the
    // token SET (the same measure the exact pass verifies — sketching a
    // different unit, e.g. shingles, silently destroys recall), 8 bands
    // x 4 rows, bucket self-join, exact-Jaccard verify on candidates only.
    // Signature comes from the native graft_minhash expression (one fused
    // pass; the higher-order formulation was interpreted and 20x slower).
    "dedup_minhash_lsh" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val sig = docs(s, dir)
        .selectExpr("doc_id", s"$tokSet AS toks")
        .selectExpr("doc_id", "toks",
          "graft_minhash(toks, 32, 1) AS sig")
        .selectExpr("doc_id", "toks",
          // 8 bands of 4 signature rows; bucket = hash of the slice
          // (xxhash64 hashes the array natively — no string building)
          "transform(sequence(0, 7), b -> " +
            "xxhash64(b, slice(sig, b*4+1, 4))) AS bands")
      // Pair emission (first-shared-band, bucket-capped) is the shared
      // lshCandidatePairs helper; token arrays never travel through the
      // pair join — bare ids pair up, and the exact verify joins SORTED
      // 64-BIT TOKEN HASHES (8 B/token, hashed once per doc) instead of
      // strings: several-fold less shuffle and a zero-allocation
      // two-pointer jaccard (graft_jaccard_sorted) per candidate.
      val candIds = lshCandidatePairs(sig)
      val docToks = sig.select(col("doc_id"), col("toks"))
        .selectExpr("doc_id",
          "sort_array(transform(toks, t -> xxhash64(t))) AS th")
      candIds
        .join(docToks.select(col("doc_id").as("a_id"),
          col("th").as("a_th")), Seq("a_id"))
        .join(docToks.select(col("doc_id").as("b_id"),
          col("th").as("b_th")), Seq("b_id"))
        .selectExpr("a_id", "b_id",
          "graft_jaccard_sorted(a_th, b_th) AS jaccard")
        .filter(col("jaccard") >= 0.8)
        // deterministic output order so an oracle upgrade from the
        // rows-only check is a no-op; the pair set is orders of
        // magnitude smaller than the candidate fan-out it came from,
        // so the sort is noise next to the pipeline above
        .orderBy(asc("a_id"), asc("b_id"))
    }),

    // Order-sensitive variant: MinHash over word-3-gram shingles,
    // verified against SHINGLE Jaccard (the measure the sketch
    // approximates). Catches near-dups that share phrasing, not just
    // vocabulary.
    "dedup_shingle_minhash" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val sig = docs(s, dir)
        .selectExpr("doc_id", s"$toks AS toks")
        // ngram=3: the native expression folds 3-token shingles as
        // rolling hash chains — no shingle strings are ever built for
        // the signature; strings appear only for exact verification of
        // the (few) candidates below.
        .selectExpr("doc_id", "toks",
          "graft_minhash(toks, 32, 3) AS sig")
        .selectExpr("doc_id", "toks",
          "transform(sequence(0, 7), b -> " +
            "xxhash64(b, slice(sig, b*4+1, 4))) AS bands")
      val candIds = lshCandidatePairs(sig)
      // shingle hashes materialized once per doc, only for verification
      // (sorted longs — same fast verify path as the token variant);
      // hashed straight off per-token hashes, no shingle strings built
      val docSh = sig.select(col("doc_id"), col("toks"))
        .selectExpr("doc_id", "transform(toks, t -> xxhash64(t)) AS th")
        .selectExpr("doc_id",
          s"sort_array(array_distinct($shingleHashesFromTokenHashes)) AS sh")
      candIds
        .join(docSh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
          Seq("a_id"))
        .join(docSh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
          Seq("b_id"))
        .selectExpr("a_id", "b_id",
          "graft_jaccard_sorted(a_sh, b_sh) AS jaccard")
        .filter(col("jaccard") >= 0.7)
        .orderBy(asc("a_id"), asc("b_id")) // deterministic pair order
    }),

    // Edit-distance (Levenshtein) near-dup on document prefixes — the
    // CHARACTER-level measure the token-set passes miss (typos,
    // transpositions, single-char edits leave token Jaccard almost
    // unchanged on short strings but read directly in edit distance).
    // Scale path (replaces the within-block all-pairs join): char
    // q-gram PREFIX FILTERING (AllPairs/PPJoin) generates candidates
    // with DETERMINISTIC full recall — each edit destroys at most q of
    // a string's q-grams, so ed(a,b) <= k implies the gram sets share
    // >= |G|-k*q elements, and by the prefix-filter theorem the first
    // k*q+1 grams (under one global order) of both docs must intersect.
    // A theorem, not an LSH probability: the candidate set provably
    // contains every qualifying pair, so this bit-matches the blocked
    // all-pairs oracle by construction. Threshold k=4 (10% of the
    // 40-char prefix) — the old k=20 (50% edit ratio) admitted no
    // sub-quadratic candidate scheme even in principle (k*q+1 > |G|
    // makes every prefix the whole gram set) and "half the characters
    // differ" is not a near-duplicate. The banded levenshtein(a,b,k)
    // runs O(k*n) instead of O(n²) and only on candidates.
    "dedup_levenshtein_prefix" -> ((s, dir) => {
      val d = docs(s, dir)
        .selectExpr("doc_id", "lang", "source",
          "substr(text, 1, 40) AS t")
      levenshteinPrefixCandidates(s, dir)
        .join(d.select(col("doc_id").as("a_id"), col("t").as("a_t")),
          Seq("a_id"))
        .join(d.select(col("doc_id").as("b_id"), col("t").as("b_t")),
          Seq("b_id"))
        .filter(abs(length(col("a_t")) - length(col("b_t"))) <= levMaxDist)
        .select(col("a_id"), col("b_id"),
          levenshtein(col("a_t"), col("b_t"), levMaxDist).as("dist"))
        // the bounded DP returns -1 above the threshold => keep [0, k]
        .filter(col("dist").between(0, levMaxDist))
        .orderBy(asc("dist"), asc("a_id"), asc("b_id"))
    }),

    // SimHash near-dup: 64-bit fingerprint per doc (native one-pass
    // graft_simhash); 4x16-bit chunk banding (recall-complete for
    // hamming<=3), verify with bit_count(xor).
    "dedup_simhash" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val fp = docs(s, dir)
        .selectExpr("doc_id", s"graft_simhash($tokSet) AS simhash")
      val chunked = fp
        .select(col("doc_id"), col("simhash"),
          posexplode(expr(
            "transform(sequence(0, 3), c -> (simhash >> (c*16)) & 65535)")))
        .withColumnRenamed("pos", "chunk_id")
        .withColumnRenamed("col", "chunk")
      chunked.as("x")
        .join(chunked.as("y"),
          col("x.chunk_id") === col("y.chunk_id") &&
            col("x.chunk") === col("y.chunk") &&
            col("x.doc_id") < col("y.doc_id"))
        // first-shared-chunk emission (same trick as the minhash bands,
        // recomputed from the fingerprints — no chunk array to carry):
        // replaces a 4x-duplicated pair shuffle + distinct().
        .filter(expr((0 until 3).map(i =>
          s"(x.chunk_id <= $i OR ((x.simhash >> ${i * 16}) & 65535) != " +
            s"((y.simhash >> ${i * 16}) & 65535))").mkString(" AND ")))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
            .as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy(asc("hamming"), asc("a_id"), asc("b_id"))
    }),

    // The O(n)-output dedup path for 100 TB: instead of listing near-dup
    // PAIRS (inherently quadratic on a self-similar corpus), assign every
    // doc a cluster representative (min doc_id reachable through shared
    // LSH buckets) and emit per-cluster sizes. Connected components via
    // alternating min-propagation over the doc <-> (band,bucket)
    // bipartite graph (the Hash-to-Min idea), iterated to FIXPOINT:
    // each round is two O(n) key-shuffles with map-side combine, and a
    // bucket chain of length L needs L rounds — a fixed horizon would
    // silently split long chains into multiple clusters (and at 100 TB
    // chains get longer, not shorter). Keep-rule downstream: keep the
    // representative, drop the rest.
    "dedup_minhash_clusters" -> ((s, dir) =>
      minhashClusterAssignments(s, dir)
        .groupBy(col("rep")).agg(count(lit(1)).as("n_docs"))
        .orderBy(desc("n_docs"), asc("rep"))),

    // INCREMENTAL dedup — the production shape: a NEW batch arrives and
    // is deduped against the EXISTING corpus, not against itself (the
    // self-join queries above are the bootstrap pass; every pass after
    // day one is this one). Survivors = new docs with no corpus
    // near-dup (token-set Jaccard >= 0.8) in their (lang, source)
    // block. The naive form — (lang, source) equi join with the
    // Jaccard inside the condition — verifies |new_block|×|corpus_block|
    // pairs and measured QUADRATIC on the 10× fixture (55×
    // wall-clock); this is the EXACT prefix-filtered set-similarity
    // join instead (Bayardo/Ma/Srikant WWW'07; Xiao et al. PPJoin):
    // order every token set by ascending corpus frequency (rarest
    // first — ties on the token string, so the order is total and
    // deterministic), and J(A,B) >= t forces the first
    // |X| − ceil(t·|X|) + 1 tokens of BOTH sides to share one token.
    // Candidate generation becomes an EQUI join on (prefix token,
    // lang, source) — cost ∝ Σ_token pfx_freq_new·pfx_freq_corpus,
    // linear under a growing vocabulary — with the length band
    // 0.8|A| ≤ |B| ≤ |A|/0.8 as a residual; only collisions pay the
    // one-pass native verify, and the filter provably admits every
    // true pair, so survivors are IDENTICAL to the naive form (same
    // DuckDB oracle). The split is doc_id % 7 (the fixture's
    // synthetic near-dups sit at id offsets that are multiples of 20,
    // so mod-7 actually separates pair members across the
    // corpus/new boundary; mod-5 never would).
    "dedup_incremental_exact" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val t = 0.8
      val d = docs(s, dir)
        .selectExpr("doc_id", "lang", "source", s"$tokSet AS toks")
      // rarity order: token → corpus-wide frequency, rebuilt per doc
      // as a (f, tok)-sorted array; one linear explode + groupBy
      val tokEx = d.select(col("doc_id"), explode(col("toks")).as("tok"))
      val freq = tokEx.groupBy("tok").agg(count(lit(1)).as("f"))
      val sorted = tokEx.join(freq, "tok")
        .groupBy("doc_id")
        .agg(expr("transform(array_sort(collect_list(struct(f, tok)))" +
          ", p -> p.tok)").as("stoks"))
      // LEFT join with an empty-set fallback: a doc whose token array
      // is null/empty has no exploded rows (absent from `sorted`), and
      // an inner join would drop it from d2 entirely — silently losing
      // it from the SURVIVOR side, where the naive anti-join form kept
      // it (a token-less doc can never reach the 0.8 Jaccard bar, so
      // it is always a survivor)
      val d2 = d.join(sorted, Seq("doc_id"), "left_outer")
        .withColumn("stoks", coalesce(col("stoks"),
          expr("CAST(array() AS ARRAY<STRING>)")))
      val pfx = s"slice(stoks, 1, size(stoks) " +
        s"- CAST(ceil($t * size(stoks)) AS INT) + 1)"
      val newB = d2.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang").as("n_lang"),
          col("source").as("n_source"), col("stoks").as("n_toks"),
          explode(expr(pfx)).as("ptok"))
      val corpus = d2.filter(col("doc_id") % 7 =!= 0)
        .select(col("lang").as("c_lang"), col("source").as("c_source"),
          col("stoks").as("c_toks"), explode(expr(pfx)).as("ptok"))
      val matched = newB.join(corpus,
          newB("ptok") === corpus("ptok") &&
            col("n_lang") === col("c_lang") &&
            col("n_source") === col("c_source") &&
            expr(s"size(c_toks) >= ceil($t * size(n_toks))") &&
            expr(s"size(n_toks) >= ceil($t * size(c_toks))") &&
            expr(s"graft_jaccard(n_toks, c_toks) >= $t"),
          "left_semi")
        .select(col("doc_id")).distinct()
      d2.filter(col("doc_id") % 7 === 0)
        .join(matched, Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy(asc("doc_id"))
    }),

    // Embedding near-dup at scale: hyperplane-LSH bucketed pairs — the
    // vector sibling of dedup_minhash_lsh. 16 tables of 8 sign bits;
    // pairs meet inside buckets only (cost ∝ bucket size, not n²),
    // emitted from their first shared table, verified with the exact
    // native cosine. Engine-hash buckets => rows-only driver check;
    // recall vs the exact label-blocked pass asserted in DedupSpec.
    "dedup_embedding_lsh" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = emb(s, dir)
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .selectExpr("vec_id", "v", "graft_hplsh(v, 16, 8) AS tables")
      // same banded pair machinery (and mega-bucket guard) as the token
      // variant — table ids play the band role
      val candIds = lshCandidatePairs(
        e.select(col("vec_id").as("doc_id"), col("tables").as("bands")),
        nBands = 16)
      val vecs = e.select(col("vec_id"), col("v"))
      candIds
        .join(vecs.select(col("vec_id").as("a_id"), col("v").as("a_v")),
          Seq("a_id"))
        .join(vecs.select(col("vec_id").as("b_id"), col("v").as("b_v")),
          Seq("b_id"))
        .selectExpr("a_id", "b_id",
          "round(graft_cosine(a_v, b_v), 6) AS cos_r")
        .filter(col("cos_r") >= 0.4)
        .orderBy(asc("a_id"), asc("b_id")) // deterministic pair order
    }),

    // Embedding-cosine near-dup: top-5 most-similar pairs per label
    // (label-blocked exact pass). Cosine is the native codegen'd
    // graft_cosine expression — the zip_with/aggregate formulation is
    // interpreted per pair. Top-N per block (not a fixed threshold) keeps
    // the check non-vacuous at every fixture scale: the synthetic corpus
    // maxes out around cos 0.48, so a near-1 threshold verified nothing.
    "dedup_embedding_cosine" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = emb(s, dir)
        .selectExpr("vec_id", "label",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      val a = e.select(col("vec_id").as("a_id"), col("label"),
        col("v").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("label"),
        col("v").as("b_v"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("label")
        .orderBy(desc("cos_r"), asc("a_id"), asc("b_id"))
      a.join(b, Seq("label"))
        .filter(col("a_id") < col("b_id"))
        .selectExpr("label", "a_id", "b_id",
          "round(graft_cosine(a_v, b_v), 6) AS cos_r")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .orderBy(asc("label"), asc("rk"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    // = k-means over unit-normalized embeddings, then WITHIN-CLUSTER
    // cosine pairs over a threshold, keeping of each near-dup pair the
    // member FARTHER from its centroid (the paper's keep-low-centroid-
    // similarity rule — peripheral examples carry the most
    // information). Clustering bounds the pair stage to
    // O(Σ|cluster|²) — the practical shape for billion-vector
    // semantic dedup; k grows with n so clusters stay bounded, and
    // only the k·dim centroid model ever reaches the driver. τ = 0.4
    // is calibrated to the synthetic fixture (random 64-d vectors
    // peak near cos 0.51; production text embeddings use ~0.95).
    // Engine-side k-means ⇒ rows-only driver check; the keep-rule
    // invariants, exact-duplicate collapse and bit-determinism are
    // spec-verified against an independent recomputation.
    "dedup_semantic_clusters" -> ((s, dir) => {
      val assigned = semanticAssignmentsOf(s,
        emb(s, dir).select(col("vec_id"), col("embedding")),
        k = 16, iters = 4)
      val dropped = semanticDropped(s, assigned, tauPct = 40)
      assigned
        .join(dropped.withColumn("is_dropped", lit(1L)),
          Seq("vec_id"), "left")
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"),
          sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"))
        .withColumn("n_kept", col("n_members") - col("n_dropped"))
        .orderBy(asc("cid"))
    }))

  /** k-means over unit-normalized vectors with distributed Lloyd
    * iterations — the SemDeDup clustering stage. `vecs` is
    * (vec_id, embedding: array<numeric>). Fully deterministic:
    *  - seeds are the vectors of the k smallest vec_ids (model-free
    *    init, reproducible run to run — same choice as the PQ
    *    codebooks in [[Similarity]]);
    *  - centroid updates average through DECIMAL sums, which commute
    *    with partitioning where double accumulation does not — the
    *    model is bit-identical however the corpus is split;
    *  - argmin ties break on cid via min(struct).
    * Each pass broadcasts the k·dim centroid model (KBs), assigns in
    * one scan, and collects ONLY the re-averaged model — assignments
    * never leave the executors, so a pass is one corpus scan at any
    * scale. A cluster that loses all members keeps its centroid.
    * Returns (vec_id, cid, v, csim) where v is the unit vector and
    * csim its rounded cosine to the assigned centroid. */
  private[graft] def semanticAssignmentsOf(s: SparkSession,
      vecs: DataFrame, k: Int, iters: Int,
      trainCap: Int = 2048): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val e = unitVectors(vecs)
    val cent = lloydModel(e, k, iters, trainCap)
    // ASSIGNMENT is map-side, zero Exchange (r14 verdict #2): the
    // k×dim model rides a 1-row broadcast (same pattern as the OPQ
    // rotate) and the codegen graft_nearest expression computes the
    // argmin + winner cosine per row in one fused loop. The plan this
    // replaces (crossJoin ×k → groupBy(vec_id) argmin) shuffled the
    // FULL vector corpus once just to pick a per-row minimum — at
    // 100 TB of embeddings that exchange dominates the query. FP
    // order inside graft_nearest matches the old HOF d2 / cosine
    // accumulation exactly, so cids and csims are bit-unchanged.
    val model = Seq(Tuple1(cent.map(_.toSeq).toSeq)).toDF("cents")
    val out = e.crossJoin(broadcast(model))
      .selectExpr("vec_id", "v", "graft_nearest(v, cents) AS m")
      .selectExpr("vec_id", "m.cid AS cid", "v",
        "round(m.csim, 9) AS csim")
      .persist() // consumers self-join it (pair stage) + re-join it
    out
  }

  /** `(vec_id, embedding: array<numeric>)` → `(vec_id, v)` with v the
    * unit-normalized double vector — the shared preprocessing of every
    * embedding-space operator here and in [[VectorIndex]]. */
  private[graft] def unitVectors(vecs: DataFrame): DataFrame =
    vecs
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v0")
      .selectExpr("vec_id", "v0",
        "sqrt(aggregate(v0, CAST(0 AS DOUBLE), (a, x) -> a + x*x)) " +
          "AS nrm")
      .selectExpr("vec_id",
        "transform(v0, x -> x / greatest(nrm, CAST(1e-300 AS DOUBLE))) " +
          "AS v")

  /** Lloyd's k-means over `e = (vec_id, v)`, trained DRIVER-SIDE on
    * the bounded collected sample; only callers' assignment passes
    * scan the corpus — centroid fitting is model work, not a per-row
    * obligation (same discipline as opqTrain/pqTrainLocal/
    * trainLogistic: the sample is bounded by construction, and the
    * per-iteration cluster jobs it replaced were scheduling overhead,
    * not compute). Fixed iteration order over the sorted sample ⇒ the
    * model is bit-deterministic under any partitioning — stronger
    * than the decimal-sum trick the distributed loop needed for the
    * same guarantee. Seeds are the vectors of the k smallest vec_ids,
    * cid = rank order; argmin ties keep the low cid; an emptied
    * cluster keeps its centroid. */
  private[graft] def lloydModel(e: DataFrame, k: Int, iters: Int,
      trainCap: Int = 2048): Array[Array[Double]] = {
    val sample = e.filter(col("vec_id") < trainCap)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    val dim = sample.head._2.length
    var cent: Array[Array[Double]] = sample.take(k).map(_._2.clone())
    def assignLocal(v: Array[Double]): Int = {
      var best = -1; var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d2 = 0.0; var i = 0
        while (i < dim) { val t = v(i) - cent(c)(i); d2 += t * t; i += 1 }
        if (d2 < bestD) { bestD = d2; best = c } // ties keep low cid
        c += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { case (_, v) =>
        val c = assignLocal(v)
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
        counts(c) += 1
      }
      cent = Array.tabulate(k)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c))
        else cent(c)) // empty cluster keeps its centroid
    }
    cent
  }

  /** The SemDeDup keep-rule over cluster assignments: b is PRUNED iff
    * some same-cluster a has cos(a, b) ≥ τ and precedes b in
    * (centroid-similarity, vec_id) order — one witness suffices, as
    * in the paper (the dropped member need not itself survive, a
    * deliberate one-pass over-approximation of transitive grouping).
    * The pair join shuffles on cid only; csim arrives pre-rounded so
    * the priority order is engine-stable. Returns distinct pruned
    * vec_ids. */
  private[graft] def semanticDropped(s: SparkSession,
      assigned: DataFrame, tauPct: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val a = assigned.select(col("cid"), col("vec_id").as("a_id"),
      col("v").as("a_v"), col("csim").as("a_csim"))
    val b = assigned.select(col("cid"), col("vec_id").as("b_id"),
      col("v").as("b_v"), col("csim").as("b_csim"))
    a.join(b, Seq("cid"))
      .filter(col("a_csim") < col("b_csim") ||
        (col("a_csim") === col("b_csim") && col("a_id") < col("b_id")))
      .filter(expr(s"graft_cosine(a_v, b_v) >= ${tauPct / 100.0}"))
      .select(col("b_id").as("vec_id")).distinct()
  }

  /** Max edit distance for `dedup_levenshtein_prefix` (10% of the
    * 40-char prefix) and the q-gram size its candidate filter uses.
    * q=6 measured best on the fixture's tiny word vocabulary (3-grams
    * recur in nearly every doc — candidates/block-pairs 0.54 at q=3 vs
    * 0.16 at q=6); the guarantee needs k*q+1 <= |grams| i.e. q(k+1) < 40,
    * so q=6 is also near the ceiling of what the 40-char prefix admits. */
  private[graft] val levMaxDist = 4
  private[graft] val levGramSize = 6

  /** Candidate (a_id, b_id) pairs for the edit-distance dedup via char
    * q-gram prefix filtering — the deterministic-recall sibling of
    * [[lshCandidatePairs]]:
    *
    *  1. per doc: DISTINCT char-q-gram hashes (q = [[levGramSize]]) of
    *     the 40-char prefix (hashes, never gram strings, travel through
    *     the plan);
    *  2. one global document-frequency pass over the grams — candidates
    *     are minimized by probing RAREST grams first (AllPairs order).
    *     The df table grows with the corpus's distinct grams, so the
    *     df lookup stays a KEYED SHUFFLE join (a forced broadcast here
    *     would collect a corpus-sized table to the driver at scale);
    *  3. per doc: sort grams by (df, gram) — one global total order —
    *     and keep the first k*q+1 as the doc's prefix;
    *  4. inverted-index self-join on (prefix gram, lang, source).
    *
    * Recall argument (the Ed-Join prefix-filter theorem): ed(a,b) <= k
    * leaves at most k*q grams in each set-difference, so the SMALLEST
    * shared gram (global order) has < k*q+1 predecessors in either set
    * and therefore sits in BOTH prefixes — provided a shared gram
    * exists, which |G| > k*q guarantees for at least one side. The one
    * uncovered case — both strings so short that |G| <= k*q — gets a
    * per-block sentinel gram appended (short docs always keep it in
    * their whole-set prefix), i.e. short docs fall back to all-pairs
    * within their block, which for strings under ~30 chars is the
    * honest cost. Recall is exactly 1 by construction — which is why
    * no bucket cap appears here (dropping a candidate would break the
    * oracle guarantee). Skewed grams are what the rare-first order
    * exists to avoid; residual skew re-splits under AQE. */
  private[graft] def levenshteinPrefixCandidates(s: SparkSession,
      dir: String): DataFrame = {
    val q = levGramSize
    val kq = levMaxDist * q
    val prefixGrams = kq + 1
    val gs = docs(s, dir)
      .selectExpr("doc_id", "lang", "source", "substr(text, 1, 40) AS t")
      .selectExpr("doc_id", "lang", "source",
        s"array_distinct(transform(sequence(1, greatest(length(t) - ${q - 1}, 1)), " +
          s"i -> xxhash64(substr(t, i, $q)))) AS gs")
      .selectExpr("doc_id", "lang", "source",
        s"CASE WHEN size(gs) <= $kq THEN " +
          "array_append(gs, xxhash64('graft-short', lang, source)) " +
          "ELSE gs END AS gs")
    val gramDf = gs.select(explode(col("gs")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefix = gs
      .select(col("doc_id"), col("lang"), col("source"),
        explode(col("gs")).as("g"))
      .join(gramDf, Seq("g"))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(expr("slice(transform(array_sort(collect_list(struct(df, g)))" +
        s", p -> p.g), 1, $prefixGrams) AS pg"))
      .select(col("doc_id"), col("lang"), col("source"),
        explode(col("pg")).as("g"))
    prefix.as("x").join(prefix.as("y"),
        col("x.g") === col("y.g") &&
          col("x.lang") === col("y.lang") &&
          col("x.source") === col("y.source") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
      .observe("lev_candidates", count(lit(1)).as("n_candidates"))
  }

  /** The within-block all-pairs form — the recall oracle
    * [[levenshteinPrefixCandidates]] is spec-verified against; O(block²),
    * never the scale path. */
  private[graft] def levenshteinBlockedExact(s: SparkSession,
      dir: String): DataFrame = {
    val d = docs(s, dir)
      .selectExpr("doc_id", "lang", "source", "substr(text, 1, 40) AS t")
    val a = d.select(col("doc_id").as("a_id"), col("lang"),
      col("source"), col("t").as("a_t"))
    val b = d.select(col("doc_id").as("b_id"), col("lang"),
      col("source"), col("t").as("b_t"))
    a.join(b, Seq("lang", "source"))
      .filter(col("a_id") < col("b_id") &&
        abs(length(col("a_t")) - length(col("b_t"))) <= levMaxDist)
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_t"), col("b_t")).as("dist"))
      .filter(col("dist") <= levMaxDist)
  }

  /** (doc_id, rep) cluster assignment backing `dedup_minhash_clusters`;
    * exposed so DedupSpec can check pair-level agreement with the LSH
    * pair query. rep only decreases and starts at doc_id, so rep <=
    * doc_id always holds. */
  def minhashClusterAssignments(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // persist the (doc_id, bkt) edge list: the fixed-point loop below
    // references it 2x per round, and without materialization the whole
    // unrolled plan recomputes the minhash signatures every round. O(8n)
    // longs — the standard iterative-graph practice (GraphX does the
    // same).
    val edges = docs(s, dir)
      .selectExpr("doc_id", s"$tokSet AS toks")
      .selectExpr("doc_id", "graft_minhash(toks, 32, 1) AS sig")
      .selectExpr("doc_id",
        "explode(transform(sequence(0, 7), b -> " +
          "xxhash64(b, slice(sig, b*4+1, 4)))) AS bkt")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rep = clusterFromEdges(edges)
    // rep is persisted and fully materialized by the loop's convergence
    // actions, so the edge cache can go before the caller consumes rep.
    edges.unpersist()
    rep
  }

  /** Min-propagation to FIXPOINT over a (doc_id, bkt) bipartite edge
    * list; returns one (doc_id, rep) row per doc. Reps only DECREASE
    * (every round's min includes the doc's current rep), so the global
    * rep-sum is non-increasing and stalls exactly at the fixpoint — one
    * cheap aggregate action per round detects convergence without a
    * prev-vs-next self-join. `maxRounds` bounds the longest reachable
    * bucket chain; hitting it is logged, never silent. */
  private[graft] def clusterFromEdges(edges: DataFrame,
      maxRounds: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    def repSum(r: DataFrame): java.math.BigDecimal = {
      val v = r.agg(sum(col("rep").cast("decimal(38,0)")).as("s")).head
      if (v.isNullAt(0)) java.math.BigDecimal.ZERO else v.getDecimal(0)
    }
    // Round 1 fused: with rep == identity, the bucket minimum is just
    // min(doc_id) per bucket — no rep frame, no identity-distinct job,
    // no baseline-sum job (prevSum = null means "not comparable yet").
    // Reps can only decrease from identity, so convergence detection
    // starts from the round-1 sum unchanged.
    var rep = edges
      .join(edges.groupBy(col("bkt")).agg(min(col("doc_id")).as("bmin")),
        Seq("bkt"))
      .groupBy(col("doc_id")).agg(min(col("bmin")).as("rep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prevSum = repSum(rep)
    var converged = false
    var round = 1
    while (!converged && round < maxRounds) {
      val bucketMin = edges.join(rep, Seq("doc_id"))
        .groupBy(col("bkt")).agg(min(col("rep")).as("bmin"))
      val next = edges.join(bucketMin, Seq("bkt"))
        .groupBy(col("doc_id")).agg(min(col("bmin")).as("rep"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val curSum = repSum(next)
      rep.unpersist()
      rep = next
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      round += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterFromEdges stopped at maxRounds=$maxRounds before " +
          "reaching the fixpoint; some chained clusters may be split")
    // Hand back a frame the caller can treat as ordinary: localCheckpoint
    // cuts the iterative lineage (no re-running the loop on reuse) and
    // its blocks are released by the ContextCleaner once the frame is
    // unreachable — unlike the loop's persist(), which would otherwise
    // leak one cached DataFrame per invocation for the session lifetime
    // (the CacheManager holds cached plans strongly until unpersist).
    val out = rep.localCheckpoint(true)
    rep.unpersist()
    out
  }

  /** LSH-bucketed incremental survivors — the 100 TB path for
    * [[queries]]' `dedup_incremental_exact` semantics. In production
    * the corpus band signatures are computed ONCE and persisted with
    * the corpus (this is the whole point: a daily batch probes a
    * prebuilt index, it never rescans yesterday's corpus text); here
    * both sides derive in-plan. The new batch equi-joins the corpus on
    * (band bucket, lang, source) — same blocking as the exact pass —
    * and only colliding candidates pay the sorted-hash verify; a
    * missed collision INFLATES survivors (recall loss, spec-bounded),
    * it never drops a good doc. At corpus scale the repeated verify
    * per extra shared band would use the first-shared-band trick from
    * [[lshCandidatePairs]]; candidate multiplicity here is ≤ 8 and the
    * verify is cheap, so the simple distinct is the clearer form. */
  private[graft] def incrementalLshSurvivors(s: SparkSession, dir: String)
  : DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val newB = signatureFrame(docs(s, dir)
      .filter(col("doc_id") % 7 === 0))
      .select(col("doc_id").as("n_id"), col("lang"), col("source"),
        col("th").as("n_th"), col("bkt"))
    val corpus = signatureFrame(docs(s, dir)
      .filter(col("doc_id") % 7 =!= 0))
      .select(col("lang"), col("source"), col("th").as("c_th"), col("bkt"))
    val matched = newB.join(corpus, Seq("bkt", "lang", "source"))
      .filter(expr("graft_jaccard_sorted(n_th, c_th) >= 0.8"))
      .select(col("n_id").as("doc_id")).distinct()
    docs(s, dir).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"))
      .join(matched, Seq("doc_id"), "left_anti")
  }

  /** The corpus-side signature frame shared by the incremental paths:
    * per-doc sorted token hashes + exploded (band bucket) keys. */
  private def signatureFrame(d: DataFrame): DataFrame = d
    .selectExpr("doc_id", "lang", "source", s"$tokSet AS toks")
    .selectExpr("doc_id", "lang", "source",
      "sort_array(transform(toks, t -> xxhash64(t))) AS th",
      "graft_minhash(toks, 32, 1) AS sig")
    .selectExpr("doc_id", "lang", "source", "th",
      "explode(transform(sequence(0, 7), b -> " +
        "xxhash64(b, slice(sig, b*4+1, 4)))) AS bkt")

  /** Persist the corpus LSH index — the production arrangement the
    * incremental path's Scaladoc promises: signatures + band buckets
    * computed ONCE when a corpus shard lands, saved columnar, so daily
    * batches probe the index and never rescan corpus TEXT (the index
    * carries token hashes, not text — 8 B/token instead of the
    * documents themselves). DedupSpec proves the probe is
    * result-identical to the in-plan [[incrementalLshSurvivors]]. */
  private[graft] def buildLshIndex(s: SparkSession, dir: String,
      path: String): Unit = {
    graft.functions.GraftFunctions.register(s)
    signatureFrame(docs(s, dir).filter(col("doc_id") % 7 =!= 0))
      .select(col("lang"), col("source"), col("th"), col("bkt"))
      .write.mode("overwrite").parquet(path)
  }

  /** Probe a [[buildLshIndex]] index with the new batch: equi-join on
    * (band bucket, lang, source), sorted-hash verify, LEFT ANTI out the
    * matched docs. Identical semantics to [[incrementalLshSurvivors]],
    * but the corpus side is the saved index scan. */
  private[graft] def probeLshIndex(s: SparkSession, dir: String,
      indexPath: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val newB = signatureFrame(docs(s, dir)
      .filter(col("doc_id") % 7 === 0))
      .select(col("doc_id").as("n_id"), col("lang"), col("source"),
        col("th").as("n_th"), col("bkt"))
    val idx = s.read.parquet(indexPath)
      .select(col("lang"), col("source"), col("th").as("c_th"),
        col("bkt"))
    val matched = newB.join(idx, Seq("bkt", "lang", "source"))
      .filter(expr("graft_jaccard_sorted(n_th, c_th) >= 0.8"))
      .select(col("n_id").as("doc_id")).distinct()
    docs(s, dir).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"))
      .join(matched, Seq("doc_id"), "left_anti")
  }

  private val toksSql = "string_split(text, ' ')"
  private val tokSetSql = s"list_distinct($toksSql)"

  // dedup_minhash_lsh / dedup_simhash / dedup_shingle_minhash are
  // engine-hash dependent => rows-only driver check; their agreement
  // with the exact pass is asserted in DedupSpec.
  // dedup_embedding_cosine IS oracle-comparable: DuckDB list lambdas
  // accumulate left-to-right like Spark's fused native loop (proven
  // bit-compatible via knn_bruteforce vs knn_bruteforce_native hashing
  // the same oracle); rounded to 6 digits like the knn queries.
  private val embCosOracle =
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |    sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
      |p AS (SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
      |    round(list_sum(list_transform(list_zip(a.v, b.v),
      |      q -> q[1]*q[2])) / (a.nrm * b.nrm), 6) AS cos_r
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT label, a_id, b_id, cos_r, rk FROM (
      |  SELECT label, a_id, b_id, cos_r, row_number() OVER (
      |    PARTITION BY label ORDER BY cos_r DESC, a_id, b_id) AS rk
      |  FROM p)
      |WHERE rk <= 5 ORDER BY label, rk""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_exact_stats" ->
      """SELECT count(*) AS n_docs, count(DISTINCT h) AS n_distinct,
        |  count(*) - count(DISTINCT h) AS n_dup_docs
        |FROM (SELECT md5(text) AS h, doc_id FROM documents)""".stripMargin,
    "dedup_token_jaccard" ->
      s"""SELECT a_id, b_id, jaccard FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
         |  FROM (SELECT doc_id, lang, source, $tokSetSql AS toks
         |        FROM documents) a
         |  JOIN (SELECT doc_id, lang, source, $tokSetSql AS toks
         |        FROM documents) b
         |    ON a.lang = b.lang AND a.source = b.source
         |       AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.8
         |ORDER BY jaccard DESC, a_id, b_id""".stripMargin,
    "dedup_embedding_cosine" -> embCosOracle,
    "dedup_levenshtein_prefix" ->
      """SELECT a_id, b_id, dist FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    levenshtein(a.t, b.t) AS dist
        |  FROM (SELECT doc_id, lang, source, substr(text, 1, 40) AS t
        |        FROM documents) a
        |  JOIN (SELECT doc_id, lang, source, substr(text, 1, 40) AS t
        |        FROM documents) b
        |    ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |   AND abs(length(a.t) - length(b.t)) <= 4)
        |WHERE dist <= 4
        |ORDER BY dist, a_id, b_id""".stripMargin,
    // NOT IN over a materialized matched set (DuckDB's binder rejects
    // the outer correlation inside list functions in NOT EXISTS)
    "dedup_incremental_exact" ->
      s"""WITH d AS (SELECT doc_id, lang, source, $tokSetSql AS toks
         |  FROM documents),
         |new_b AS (SELECT * FROM d WHERE doc_id % 7 = 0),
         |corpus AS (SELECT * FROM d WHERE doc_id % 7 != 0),
         |matched AS (SELECT DISTINCT n.doc_id FROM new_b n JOIN corpus c
         |  ON c.lang = n.lang AND c.source = n.source
         |  AND CAST(len(list_intersect(c.toks, n.toks)) AS DOUBLE)
         |      / len(list_distinct(list_concat(c.toks, n.toks))) >= 0.8)
         |SELECT doc_id FROM new_b
         |WHERE doc_id NOT IN (SELECT doc_id FROM matched)
         |ORDER BY doc_id""".stripMargin)

  /** Probability that banded MinHash-LSH with `bands`×`rows` emits a
    * pair of true Jaccard similarity `s` as a candidate — the S-curve
    * 1-(1-s^r)^b. Pure; the analytical backbone for parameter choice. */
  def lshCandidateProb(bands: Int, rows: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Choose (bands, rowsPerBand) for an `nHashes`-permutation signature
    * targeting Jaccard `threshold`: minimizes the integrated S-curve
    * error vs the ideal step, with false NEGATIVES weighted `fnWeight`×
    * false positives. The asymmetry is the operational reality of a
    * dedup pipeline: a false positive costs one exact-Jaccard verify
    * (cheap, bounded), a false negative is a missed duplicate nothing
    * downstream can recover — so production configs lean recall
    * (fnWeight > 1 pushes the curve's crossing point BELOW the
    * threshold, exactly like the shipped 8×4-at-0.8 configuration). */
  def lshTune(nHashes: Int, threshold: Double,
      fnWeight: Double = 1.0): (Int, Int) = {
    require(nHashes >= 2 && threshold > 0 && threshold < 1)
    val grid = 200
    (1 to nHashes).filter(nHashes % _ == 0).map { r =>
      val b = nHashes / r
      val err = (0 until grid).map { i =>
        val s = (i + 0.5) / grid
        val p = lshCandidateProb(b, r, s)
        if (s < threshold) p else fnWeight * (1.0 - p)
      }.sum / grid
      (err, b, r)
    }.minBy(_._1) match { case (_, b, r) => (b, r) }
  }
}
