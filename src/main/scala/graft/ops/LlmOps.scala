package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.api.Ckpt._
import graft.expr.FloatVec

/** Payload record for the multimodal decode path (binary column + key). */
case class MmPayload(doc_id: Long, payload: Array[Byte])

/** Scalar-function batteries + LLM-training-data pipeline operators
  * (SURVEY.md §2.7 and the north-star additions in BASELINE.json:6):
  * dedup (exact hash, shingle-Jaccard, MinHash-LSH, SimHash), similarity
  * search (brute-force and IVF cluster-pruned), text analysis (token stats,
  * tf-idf, language id, quality scoring, fingerprinting) and multimodal
  * binary plumbing.
  *
  * Scale notes are per-op; the common themes: all-pairs work is always
  * blocked (label, LSH band, cluster) before pairing; similarity inner loops
  * go through the codegen'd native [[graft.expr.FloatDot]] expression, not
  * per-element lambdas; every hash is an engine-portable md5/sha2 so the
  * DuckDB oracle can replay it.
  */
object LlmOps {

  type Q = (SparkSession, String) => DataFrame

  /** Engine-portable 4-decimal rounding for values that can land exactly on
    * a half boundary (small-integer ratios): `floor(x*1e4 + 0.5)/1e4` is the
    * same double arithmetic on Spark and DuckDB, whereas `round(x, 4)`
    * differs at boundaries (Spark rounds the exact decimal expansion of the
    * double, DuckDB rounds in double arithmetic). Positive inputs only.
    */
  private[graft] def pround4(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0)

  /** Distinct (doc_id, shingle) rows via the custom Generator
    * [[graft.expr.ShingleGen]] — one tokenize pass per document, rows
    * streamed straight out (no per-row array materialization). The >= 3
    * token pre-filter mirrors the oracle's WHERE (short docs have no
    * 3-shingles on either engine).
    */
  private def shingleRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    Tables.documents(s, dir)
      .filter(size(split($"text", " ")) >= 3)
      .select($"doc_id", GraftSqlBridge.column(
        graft.expr.ShingleGen(GraftSqlBridge.expression($"text"), 3)).as("s"))
      .distinct()
  }

  /** Exact all-pairs shingle overlap ≥ minJaccard (brute force via shingle
    * equi-join — the join key IS the blocking at this scale; the 100 TB path
    * is llm_dedup_minhash below, which prunes candidates with banded LSH
    * first).
    */
  private def jaccardPairs(s: SparkSession, dir: String, minJ: Double): DataFrame = {
    import s.implicits._
    // four consumers (sizes agg, budget histogram, a, b) — cp() so the
    // shingle explode+distinct runs once, not per consumer
    val ex = shingleRows(s, dir).cp()
    val sizes = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // gate ONE side: the guard fires identically, the histogram runs once
    val ga = graft.api.PairBudget.gate(ex, Seq($"s"),
      "llm_dedup_near", "llm_dedup_minhash")
    ga.as("a").join(ex.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
      .withColumn("j", $"common" / ($"n1" + $"n2" - $"common"))
      .filter($"j" >= minJ)
  }

  /** Word-BIGRAM Jaccard similarity, top-20 doc pairs (the n-gram-Jaccard
    * member of the dedup family; `llm_dedup_near` is the 3-gram ≥ τ
    * variant). Pairs are BLOCKED to the same source on top of the bigram
    * equi-join — bigrams alone are too common to bound the pair stream
    * (measured ~10× the cost of the whole 3-gram op at sf0.1); blocking
    * before pairing is the posture every pair op here takes at scale.
    * `pround4` because a small-integer ratio can land exactly on a
    * round(…,4) half boundary.
    */
  val llmNgramJaccard: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    val bi = Tables.documents(s, dir)
      .filter(size(split($"text", " ")) >= 2)
      .select($"doc_id", $"source", GraftSqlBridge.column(
        graft.expr.ShingleGen(GraftSqlBridge.expression($"text"), 2)).as("s"))
      .distinct()
      // four consumers (sizes agg, budget histogram, a, b) — one build
      .cp()
    val sizes = bi.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val ga = graft.api.PairBudget.gate(bi, Seq($"s", $"source"),
      "llm_ngram_jaccard", "llm_dedup_minhash")
    ga.as("a").join(bi.as("b"),
        $"a.s" === $"b.s" && $"a.source" === $"b.source" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
      .select($"d1", $"d2", $"common",
        pround4($"common" / ($"n1" + $"n2" - $"common")).as("jaccard"))
      .orderBy($"jaccard".desc, $"d1", $"d2")
      .limit(20)
  }

  /** Embedding-cosine near-dup dedup (dedup-by-meaning): within each label
    * block, any vector with an earlier (smaller id) neighbor at cosine
    * ≥ 0.3 is dropped; survivors keep the group's min id — the greedy
    * deterministic keep-first rule of `llm_dedup_exact`, lifted to vector
    * similarity.
    */
  val llmDedupEmbed: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", sqrt(FloatVec.floatDot($"embedding", $"embedding")))
    // FloatDot accumulates in double, index order — identical to DuckDB's
    // list_cosine_similarity — so the unrounded cosines agree to the last
    // bit; pround4 (not round) removes the residual half-boundary rounding
    // divergence on the membership threshold.
    val dropped = e.as("x").join(e.as("y"),
        $"x.label" === $"y.label" && $"x.vec_id" < $"y.vec_id")
      .filter(pround4(
        FloatVec.floatDot($"x.embedding", $"y.embedding") / ($"x.nrm" * $"y.nrm")) >= 0.3)
      .select($"y.vec_id".as("vec_id")).distinct()
    Tables.embeddings(s, dir).join(dropped, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"label".cast("long").as("label"))
      .orderBy($"vec_id")
  }

  /** Concat-and-chunk sequence packing — the standard LLM-pretraining
    * packing shape: within each source, documents concatenate in doc_id
    * order and split at fixed 256-token context boundaries. chunk id =
    * (running token offset of the doc's start) div 256 — pure window
    * arithmetic, no iterative bin-packing state, so it scales as one
    * shuffle on the pack key and is hash-checkable.
    */
  val llmPackChunks: Q = (s, dir) => {
    import s.implicits._
    graft.api.TextPipeline.packChunks(
        Tables.documents(s, dir), $"source", $"doc_id", $"text", contextTokens = 256)
      .select($"grp".as("source"), $"id".as("doc_id"), $"n_tokens",
        $"chunk", $"start_off")
      .orderBy($"source", $"doc_id")
  }

  // ===== §2.7 function batteries =====

  val fnString: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id",
      upper(substring($"text", 1, 10)).as("head10"),
      length($"text").cast("long").as("len"),
      size(split($"text", " ")).cast("long").as("n_tokens"),
      regexp_extract($"text", "([a-z]+)", 1).as("first_word"),
      concat_ws("|", $"lang", $"source").as("tag"),
      trim(concat(lit("  "), $"lang", lit("  "))).as("trimmed"),
      try_element_at(split($"text", " "), lit(3)).as("tok3"))
      .orderBy($"doc_id")
  }

  val fnDate: Q = (s, dir) => {
    import s.implicits._
    val d = $"o_orderdate".cast("date")
    Tables.orders(s, dir).select(
      $"o_orderkey",
      year($"o_orderdate").cast("long").as("yr"),
      month($"o_orderdate").cast("long").as("mo"),
      dayofmonth($"o_orderdate").cast("long").as("dom"),
      date_trunc("month", $"o_orderdate").cast("date").as("month_start"),
      datediff(d, lit("1995-01-01").cast("date")).cast("long").as("days_since"),
      date_add(d, 30).as("plus30"),
      last_day(d).as("eom"))
      .orderBy($"o_orderkey")
  }

  /** Scalar math surface. Hashed-projection discipline: `sqrt`, `abs`,
    * `±`, `×`, `÷` are IEEE-correctly-rounded, so identical operands give
    * bit-identical results on both engines and may be decimal-rounded
    * freely; `ln` is transcendental (JVM Math.log and DuckDB's libm are
    * each ≤1 ulp but DIFFERENT), so it is emitted only as a coarse
    * integer quantization `floor(ln(x)·1e3 + 0.5)` — boundary spacing
    * 5e-4 in ln units vs ≤1.2e-15 cross-libm drift, margin pinned by
    * LlmSpec — never as `round(ln(x), n)`. The former `pow(y, 2)` column
    * is spelled `y*y` (exact multiply) for the same reason.
    */
  val fnMath: Q = (s, dir) => {
    import s.implicits._
    Tables.orders(s, dir).select(
      $"o_orderkey",
      round($"o_totalprice", 2).as("r2"),
      abs($"o_totalprice" - 200000).as("ad"),
      round(sqrt($"o_totalprice"), 6).as("sq"),
      floor(log($"o_totalprice") * 1000.0 + 0.5).cast("long").as("lg_milli"),
      round(($"o_totalprice" / 1000.0) * ($"o_totalprice" / 1000.0), 6).as("pw"),
      pmod($"o_orderkey", lit(7L)).as("pm"),
      signum($"o_totalprice" - 200000).cast("long").as("sg"))
      .orderBy($"o_orderkey")
  }

  val fnArray: Q = (s, dir) => {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id",
        size($"embedding").cast("long").as("dim"),
        array_min($"embedding").as("mn"),
        array_max($"embedding").as("mx"),
        posexplode(slice($"embedding", 1, 3)).as(Seq("p0", "val")))
      .select($"vec_id", ($"p0" + 1).cast("long").as("pos"), $"val", $"dim", $"mn", $"mx")
      .orderBy($"vec_id", $"pos")
  }

  /** Map build + access + explode: per-order tag map returnflag -> quantity.
    * Maps are unordered, so the map is exploded back to rows before output
    * (SURVEY.md §2.9 item 4); the map-typed intermediate exercises
    * map_from_entries / map_keys / try_element_at.
    */
  val fnMap: Q = (s, dir) => {
    import s.implicits._
    val g = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey".as("okey"), $"l_returnflag".as("tag"))
      .agg(sum($"l_quantity").as("qty"))
    g.groupBy($"okey")
      .agg(map_from_entries(collect_list(struct($"tag", $"qty"))).as("tags"))
      .select($"okey",
        size(map_keys($"tags")).cast("long").as("n_tags"),
        try_element_at($"tags", lit("A")).as("qty_a"),
        explode($"tags").as(Seq("tag", "qty")))
      .select($"okey", $"n_tags", $"qty_a", $"tag", $"qty")
      .orderBy($"okey", $"tag")
  }

  /** Conditional-expression battery: coalesce/nvl, nullif, greatest/least,
    * nested CASE — over orders with injected NULLs so every branch fires.
    */
  val fnCond: Q = (s, dir) => {
    import s.implicits._
    Tables.orders(s, dir).select(
      $"o_orderkey",
      nullif($"o_orderstatus", lit("P")).as("status_or_null"),
      coalesce(nullif($"o_orderstatus", lit("P")), lit("(pending)")).as("status_filled"),
      greatest($"o_totalprice", lit(100000.0)).as("floor_price"),
      least($"o_totalprice", lit(400000.0)).as("cap_price"),
      when($"o_totalprice" > 300000, lit("high"))
        .when($"o_totalprice" > 150000, lit("mid"))
        .otherwise(lit("low")).as("bucket"))
      .orderBy($"o_orderkey")
  }

  /** Bitwise-operator battery over integer keys. */
  val fnBitwise: Q = (s, dir) => {
    import s.implicits._
    Tables.orders(s, dir).select(
      $"o_orderkey",
      ($"o_orderkey".bitwiseAND(lit(255L))).as("and255"),
      ($"o_orderkey".bitwiseOR(lit(16L))).as("or16"),
      ($"o_orderkey".bitwiseXOR($"o_custkey")).as("xor_cust"),
      shiftright($"o_orderkey", 4).as("shr4"),
      expr("shiftleft(o_orderkey, 2)").as("shl2"),
      bit_count($"o_orderkey").cast("long").as("popcount"))
      .orderBy($"o_orderkey")
  }

  // ===== dedup =====

  /** Exact dedup on normalized text hash; min doc_id survives per group.
    * One hash-groupBy pass — the canonical 100 TB exact-dedup shape.
    */
  val llmDedupExact: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(sha2(lower(trim($"text")), 256).as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select($"keep_id", $"h", $"n_dups")
      .orderBy($"keep_id")
  }

  /** Near-dup pairs: exact 3-shingle Jaccard >= 0.6. */
  val llmDedupNear: Q = (s, dir) => {
    import s.implicits._
    // pround4, not round: the Jaccard ratio is a small-integer quotient and
    // can land exactly on a 4-decimal half boundary, where round(…,4)
    // resolves differently on Spark vs DuckDB
    jaccardPairs(s, dir, 0.6)
      .select($"d1", $"d2", pround4($"j").as("jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** MinHash-LSH near-dup — the scale path: 8 portable minhashes
    * (min md5 over salted shingles), banded 4×2; only band-collision
    * candidates are verified with exact Jaccard (>= 0.5). At 100 TB the
    * band bucket join replaces the all-pairs shingle join entirely.
    */
  val llmDedupMinhash: Q = (s, dir) => {
    import s.implicits._
    val ex = shingleRows(s, dir)
    val hashAggs = (0 to 7).map(i => min(md5(concat(lit(i.toString), $"s"))).as(s"h$i"))
    val mh = ex.groupBy($"doc_id").agg(hashAggs.head, hashAggs.tail: _*)
    val bands = mh.select($"doc_id", explode(array(
      struct(lit(0).as("band"), concat($"h0", $"h1").as("key")),
      struct(lit(1).as("band"), concat($"h2", $"h3").as("key")),
      struct(lit(2).as("band"), concat($"h4", $"h5").as("key")),
      struct(lit(3).as("band"), concat($"h6", $"h7").as("key")))).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("key"))
    val cands = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.key" === $"y.key" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("d1"), $"y.doc_id".as("d2")).distinct()
    // exact Jaccard for CANDIDATES ONLY — the whole point of LSH at scale:
    // verification work is proportional to band collisions, not to all
    // co-shingling pairs (contrast llm_dedup_near's brute-force join)
    val sizes = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val common = cands
      .join(ex.select($"doc_id".as("d1"), $"s".as("s1")), "d1")
      .join(ex.select($"doc_id".as("d2"), $"s".as("s1")), Seq("d2", "s1"))
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
      .withColumn("j", $"common" / ($"n1" + $"n2" - $"common"))
      .filter($"j" >= 0.5)
      // pround4, not round: the verification Jaccard is a small-integer
      // quotient that can land exactly on a 4-decimal half boundary (same
      // treatment as llm_dedup_near above)
      .select($"d1", $"d2", pround4($"j").as("jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** Sliding-window chunking with overlap (64-token windows, stride 32) —
    * the RAG/retrieval counterpart of [[llmPackChunks]]'s disjoint packing:
    * every chunk start is a pure function of the token count (starts =
    * 0, 32, … ≤ n−1), so the explode is per-row integer arithmetic with no
    * shuffle at all until the output sort. Emits (doc_id, chunk_idx,
    * start_tok, chunk_tokens) with the short tail window included.
    */
  val llmChunkSliding: Q = (s, dir) => {
    import s.implicits._
    val stride = 32
    val win = 64
    Tables.documents(s, dir)
      .select($"doc_id", size(split(trim($"text"), " ")).cast("long").as("n"))
      .filter($"n" >= 1)
      .select($"doc_id", $"n",
        explode(sequence(lit(0L), floor(($"n" - 1) / stride).cast("long"))).as("chunk_idx"))
      .select($"doc_id", $"chunk_idx",
        ($"chunk_idx" * stride).as("start_tok"),
        least(lit(win.toLong), $"n" - $"chunk_idx" * stride).as("chunk_tokens"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Per-label mean-pooled embedding centroids, one row per (label,
    * dimension) — the offline class-centroid computation behind IVF
    * codebooks and label-prototype classifiers, as a declared query.
    * posexplode + (label, pos) hash agg: partial averages merge at the
    * exchange, so the shuffle carries |labels|·dims rows, not vectors.
    * Scalar output rows (never a list column — the parquet list encoding
    * differs between engines); round(…,4) is safe on these many-term
    * float averages (not small-integer ratios).
    */
  val llmEmbedCentroids: Q = (s, dir) => {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"label".cast("long").as("label"),
        posexplode($"embedding").as(Seq("p", "v")))
      .groupBy($"label", ($"p" + 1).cast("long").as("pos"))
      .agg(round(avg($"v"), 4).as("c"))
      .orderBy($"label", $"pos")
  }

  /** Benchmark DECONTAMINATION — the train/eval overlap check every
    * training-data pipeline runs before a model sees the data: training
    * documents (source ≠ src0) that near-duplicate an eval document
    * (source = src0) at 3-shingle Jaccard ≥ 0.5. The pair space is
    * eval × train, never train × train — the tiny eval shingle set is
    * BROADCAST, so at 100 TB this is one map-side pass over the training
    * corpus (the same reason real decontamination uses n-gram bloom
    * filters built from the benchmark side).
    */
  val llmDecontaminate: Q = (s, dir) => {
    import s.implicits._
    // eval/train/sizes all derive from the shingle pass — checkpoint once
    val ex = shingleRows(s, dir).cp()
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    val exs = ex.join(src, "doc_id")
    val evalSide = exs.filter($"source" === "src0")
      .select($"doc_id".as("eval_id"), $"s")
    val trainSide = exs.filter($"source" =!= "src0")
      .select($"doc_id".as("train_id"), $"s")
    val sizes = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    trainSide.join(broadcast(evalSide), "s")
      .groupBy($"train_id", $"eval_id").agg(count(lit(1)).as("common"))
      .join(sizes.select($"doc_id".as("train_id"), $"n".as("n1")), "train_id")
      .join(sizes.select($"doc_id".as("eval_id"), $"n".as("n2")), "eval_id")
      .withColumn("j", $"common" / ($"n1" + $"n2" - $"common"))
      .filter($"j" >= 0.5)
      .select($"train_id", $"eval_id", pround4($"j").as("jaccard"))
      .orderBy($"train_id", $"eval_id")
  }

  /** JSON scalar-function surface over the event property bag: the typed
    * `from_json` parse (schema declared — NO inference pass) next to the
    * path-extraction `get_json_object` and the structural
    * `json_object_keys` probe. Both extraction forms are codegen'd
    * projections over one scan; the declared-schema parse is the 100 TB
    * posture (schema inference re-reads the corpus).
    */
  val fnJson: Q = (s, dir) => {
    import s.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")
    Tables.events(s, dir)
      .select($"event_id",
        from_json($"props", schema).getField("k").as("k_typed"),
        get_json_object($"props", "$.k").cast("long").as("k_path"),
        size(json_object_keys($"props")).cast("long").as("n_keys"))
      .orderBy($"event_id")
  }

  /** Bigram collocation mining — the corpus-statistics pass that finds
    * multi-word expressions ("new york") for tokenizer/vocab curation.
    * Bigrams stream straight from [[graft.expr.ShingleGen]] (n = 2,
    * duplicates kept — these are OCCURRENCE counts), unigrams from one
    * token explode. The oracle-hashed output carries ONLY the exact
    * BIGINT count columns (n_pair, ca, cb, nt, nb) — everything a caller
    * needs to evaluate PMI = ln(n_pair·nt² / (nb·ca·cb)); the
    * transcendental itself stays OUT of the hashed projection because
    * JVM `Math.log` and DuckDB's libm may differ in the last ulp, which
    * flips `round(·,4)` on a half boundary (the round-6 red row). The
    * PMI value is pinned in LlmSpec by a JVM-side recompute from these
    * counts. The unigram frequency table is broadcast (same Heaps'-law
    * caveat as [[llmUnigramLogprob]]: at many-GB vocabulary switch to a
    * shuffle join on the token). One shuffle per count table; the ≥ 20
    * support floor prunes before any join.
    */
  val llmCollocations: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    val docs = Tables.documents(s, dir)
    val toks = docs.select(explode(split($"text", " ")).as("t"))
    val uni = toks.groupBy($"t").agg(count(lit(1)).as("c")).cp()
    val nt = uni.agg(sum($"c").as("nt"))
    val bi = docs.filter(size(split($"text", " ")) >= 2)
      .select(GraftSqlBridge.column(
        graft.expr.ShingleGen(GraftSqlBridge.expression($"text"), 2)).as("bg"))
      .select(split($"bg", " ").getItem(0).as("a"),
        split($"bg", " ").getItem(1).as("b"))
      .cp()
    val nb = bi.agg(count(lit(1)).as("nb"))
    bi.groupBy($"a", $"b").agg(count(lit(1)).as("n_pair"))
      .filter($"n_pair" >= 20)
      .join(broadcast(uni.select($"t".as("a"), $"c".as("ca"))), "a")
      .join(broadcast(uni.select($"t".as("b"), $"c".as("cb"))), "b")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
      .select($"a", $"b", $"n_pair", $"ca", $"cb", $"nt", $"nb")
      .orderBy($"a", $"b")
  }

  /** Bloom-style decontamination — the shape real pipelines (n-gram bloom
    * filters built from the benchmark side) run at 100 TB: a fixed-width
    * FINGERPRINT of the eval shingle set is broadcast instead of the
    * shingle strings themselves. Stage 1 hashes every train shingle to a
    * 26-bit bucket (xxhash64 & mask — a one-hash Bloom filter expressed as
    * a broadcast semi-join on bucket ids, ~8 B/entry vs ~30 B+ per shingle
    * string and deduplicated across docs) and keeps only might-contain
    * rows; stage 2 exact-verifies the survivors against the eval shingles,
    * so Bloom false positives NEVER reach the output and the result is
    * bit-identical to the exact intersection — which is what the oracle
    * checks. Output: train docs sharing ≥ 8 distinct 3-shingles with an
    * eval (source = src0) doc. Differs from [[llmDecontaminate]] in
    * semantics (absolute containment count, not Jaccard) and in the
    * broadcast artifact (fingerprints, not strings).
    */
  val llmDecontaminateBloom: Q = (s, dir) => {
    import s.implicits._
    val ex = shingleRows(s, dir).cp()
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    val exs = ex.join(src, "doc_id")
    val evalSide = exs.filter($"source" === "src0")
      .select($"doc_id".as("eval_id"), $"s")
    val trainSide = exs.filter($"source" =!= "src0")
      .select($"doc_id".as("train_id"), $"s")
    val mask = (1L << 26) - 1
    val evalBits = evalSide
      .select((xxhash64($"s").bitwiseAND(lit(mask))).as("bkt")).distinct()
    trainSide
      .withColumn("bkt", xxhash64($"s").bitwiseAND(lit(mask)))
      .join(broadcast(evalBits), "bkt") // might-contain prefilter
      .drop("bkt")
      .join(broadcast(evalSide), "s") // exact verify: kills false positives
      .groupBy($"train_id", $"eval_id").agg(count(lit(1)).as("common"))
      .filter($"common" >= 8)
      .orderBy($"train_id", $"eval_id")
  }

  /** Near-dup pairs served from the PERSISTED MinHash signature index —
    * the offline/online split of [[llmDedupMinhash]] (VERDICT r2 "missing
    * #2": a reusable index artifact). The signature build (full-corpus
    * tokenize→shingle→hash) runs once per dir and persists a parquet
    * artifact via [[graft.api.TextPipeline.saveSignatures]]; the query
    * itself only reads signatures, band-joins them for candidates, and
    * re-shingles the CANDIDATE docs (semi-join-pruned scan) for exact
    * verification. Bit-identical to llm_dedup_minhash — same oracle.
    */
  private val sigPaths = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def minhashSigPath(s: SparkSession, dir: String): String =
    // Key by dir + data fingerprint: regenerated data under the same path
    // must rebuild the artifact, not serve stale pairs (ADVICE r3).
    sigPaths.computeIfAbsent(
      dir + "#" + graft.Scratch.fingerprint(s"$dir/documents.parquet"), _ => {
      import s.implicits._
      // Name the scratch dir by a collision-resistant digest of the FULL
      // dataset path: String.hashCode collisions would alias two datasets
      // onto one artifact dir and serve cross-dataset pairs (ADVICE r3).
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val p = graft.Scratch.dir(s"minhash_sig_$digest")
      graft.api.TextPipeline.saveSignatures(
        graft.api.TextPipeline.minhashSignatures(
          Tables.documents(s, dir), $"doc_id", $"text"), p)
      p
    })

  val llmDedupMinhashIdx: Q = (s, dir) => {
    import s.implicits._
    val sig = graft.api.TextPipeline.loadSignatures(s, minhashSigPath(s, dir))
    graft.api.TextPipeline.nearDupFromSignatures(
        sig, Tables.documents(s, dir), $"doc_id", $"text", minJ = 0.5)
      .orderBy($"d1", $"d2")
  }

  /** SimHash (64-bit, token-hash bit-majority) per document — computed
    * entirely inside one aggregate over the collected token-hash list (no
    * 64× row blow-up). xxhash64 is Spark-native (no DuckDB twin ⇒ no
    * oracle); LlmSpec asserts bit-level properties instead.
    */
  val llmDedupSimhash: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id").agg(collect_list(xxhash64($"w")).as("hs"))
      .select($"doc_id", expr(
        """aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, b) ->
          |  acc + IF(aggregate(hs, 0, (a, h) ->
          |             a + IF((shiftright(h, b) & 1) = 1, 1, -1)) >= 0,
          |           shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))""".stripMargin)
        .as("simhash"))
      .orderBy($"doc_id")
  }

  /** Dedup CLUSTER assignment — near-duplication is transitive in practice
    * (A≈B, B≈C ⇒ drop all but one of {A,B,C}), so production dedup is
    * connected components over the near-dup pair graph, not pairwise
    * drops. Every document gets keep_id = min doc_id of its similarity
    * component (singletons keep themselves) via the pure-DataFrame
    * min-label CC ([[graft.api.GraphAlgebra.connectedComponentsDf]]).
    * Edges come from the banded MinHash candidate stage (the
    * llm_dedup_minhash_idx machinery: signature band-join → pruned exact
    * verify ≥ 0.6) — collision-bounded work, the 100 TB shape, NOT the
    * all-pairs exact join (VERDICT r3 "wrong #5"). The oracle stays the
    * recursive min-label CTE over the exact ≥0.6 edge set: real near-dups
    * in this corpus are high-J (planted dup families, J ≈ 1), far above
    * the τ=0.6 band-miss zone, and LlmSpec pins banded ≡ exact edges so a
    * drift would fail the spec before it failed the oracle.
    */
  val llmDedupCluster: Q = (s, dir) => {
    import s.implicits._
    val sig = graft.api.TextPipeline.loadSignatures(s, minhashSigPath(s, dir))
    val pairs = graft.api.TextPipeline.nearDupFromSignatures(
        sig, Tables.documents(s, dir), $"doc_id", $"text", minJ = 0.6)
      .select($"d1".as("a"), $"d2".as("b"))
    val vertices = Tables.documents(s, dir).select($"doc_id".as("part"))
    graft.api.GraphAlgebra.connectedComponentsDf(vertices, pairs)
      .select($"id".as("doc_id"), $"comp".as("keep_id"))
      .orderBy($"doc_id")
  }

  /** SimHash near-dup PAIRS — the banded Hamming search that makes
    * [[llmDedupSimhash]]'s per-doc signature actionable: the 64-bit
    * signature splits into 4 disjoint 16-bit bands; any pair within
    * Hamming distance ≤ 3 must agree EXACTLY on ≥ 1 band (pigeonhole), so
    * candidates come from 4 equi-joins on band values (work ∝ band
    * collisions, never all pairs — the same LSH shape as the MinHash
    * dedup) and are verified with the codegen'd `bit_count(xor)`.
    * xxhash64 signatures have no DuckDB twin ⇒ declared no-oracle; LlmSpec
    * asserts the pigeonhole contract (banded = brute-force pairs).
    */
  val llmDedupSimhashPairs: Q = (s, dir) => {
    import s.implicits._
    val sig = llmDedupSimhash(s, dir).cp() // reused by 4 band joins + verify
    val bands = sig.select($"doc_id", $"simhash", explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        shiftright($"simhash", b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select($"doc_id", $"simhash", $"bk.band".as("band"), $"bk.key".as("key"))
    bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.key" === $"y.key" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("d1"), $"y.doc_id".as("d2"),
        bit_count($"x.simhash".bitwiseXOR($"y.simhash")).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= 3)
      .orderBy($"d1", $"d2")
  }

  // ===== similarity search =====

  /** Brute-force exact top-10 cosine neighbors of probe vec 0. Codegen'd
    * FloatDot inner loop; probe is a broadcast single row; top-k is
    * TakeOrderedAndProject on the rounded score (rounding makes the order
    * engine-portable).
    */
  val llmSimSearch: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("selfdot", FloatVec.floatDot($"embedding", $"embedding"))
    val probe = e.filter($"vec_id" === 0)
      .select($"embedding".as("pe"), $"selfdot".as("pd"))
    e.filter($"vec_id" =!= 0).crossJoin(broadcast(probe))
      .withColumn("cos",
        FloatVec.floatDot($"embedding", $"pe") / (sqrt($"selfdot") * sqrt($"pd")))
      .select($"vec_id", $"label".cast("long").as("label"), round($"cos", 4).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  /** All-pairs label-blocked cosine >= 0.3 (dedup-by-meaning). Blocking on
    * label bounds the pair space; per-vector norms are computed once before
    * pairing so the pair loop is one dot product.
    */
  val llmSimJoin: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", sqrt(FloatVec.floatDot($"embedding", $"embedding")))
    e.as("x").join(e.as("y"), $"x.label" === $"y.label" && $"x.vec_id" < $"y.vec_id")
      .withColumn("rcos", round(
        FloatVec.floatDot($"x.embedding", $"y.embedding") / ($"x.nrm" * $"y.nrm"), 4))
      .filter($"rcos" >= 0.3)
      .select($"x.vec_id".as("p1"), $"y.vec_id".as("p2"),
        $"x.label".cast("long").as("label"), $"rcos".as("cos"))
      .orderBy($"p1", $"p2")
  }

  /** IVF-style cluster-pruned ANN: fixed codebook = vectors 0..9, every
    * vector assigned to its max-cosine centroid, probe 42 searched only
    * within its own cluster (top-5). The assignment pass + cluster-local
    * search is the 100 TB ANN shape (scan cost /= n_clusters).
    */
  /** Product-quantization ANN (PQ + ADC) — THE 100 TB vector-search
    * compression: the 64-dim space splits into 4 subspaces of 16 dims,
    * each with a fixed 8-entry sub-codebook (the first 8 vectors'
    * sub-vectors — the [[llmAnnIvf]] fixed-codebook convention, so the
    * whole computation is oracle-checkable where trained codebooks are
    * not); every vector compresses to 4 one-byte codes (16× smaller than
    * the floats), and probe 42 searches by Asymmetric Distance
    * Computation — one 4×8 distance table, approx dist = Σ_m
    * table[m, code_m(v)]. Every distance is a per-ELEMENT nano-quantized
    * BIGINT sum (the [[llmEmbedNorms]] discipline — order-free,
    * engine-exact), so code assignment, the ADC ranking, and the
    * true-distance error column are all exact integer arithmetic. Work:
    * one posexplode, an 8-way broadcast centroid join, two hash aggs —
    * the codes and the table are the only shuffled state.
    */
  val llmAnnPq: Q = (s, dir) => {
    import s.implicits._
    val px = Tables.embeddings(s, dir)
      .select($"vec_id", posexplode($"embedding").as(Seq("p", "v")))
      .select($"vec_id", ($"p" / 16).cast("long").as("m"), $"p",
        $"v".cast("double").as("v"))
      .cp() // codes, the probe table, and the true distance all read it
    val cx = px.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"m", $"p", $"v".as("cv"))
    // exact per-(vector, subspace, centroid) squared distance
    val d2 = px.join(broadcast(cx), Seq("m", "p"))
      .select($"vec_id", $"m", $"cid",
        floor(($"v" - $"cv") * ($"v" - $"cv") * lit(1.0e9) + lit(0.5))
          .cast("long").as("q"))
      .groupBy($"vec_id", $"m", $"cid").agg(sum($"q").as("d2q"))
      .cp() // codes and the probe's ADC table share it
    val codes = d2.groupBy($"vec_id", $"m")
      .agg(min(struct($"d2q", $"cid")).as("mn"))
      .select($"vec_id", $"m", $"mn.cid".as("code"))
    val dtab = d2.filter($"vec_id" === 42)
      .select($"m".as("tm"), $"cid".as("tcid"), $"d2q".as("td2q"))
    val adist = codes.join(broadcast(dtab),
        $"m" === $"tm" && $"code" === $"tcid")
      .groupBy($"vec_id").agg(sum($"td2q").as("aq"))
    // exact true distance to the probe for the PQ-error column
    val probe = px.filter($"vec_id" === 42)
      .select($"p".as("pp"), $"v".as("pv"))
    val tdist = px.join(broadcast(probe), $"p" === $"pp")
      .select($"vec_id",
        floor(($"v" - $"pv") * ($"v" - $"pv") * lit(1.0e9) + lit(0.5))
          .cast("long").as("q"))
      .groupBy($"vec_id").agg(sum($"q").as("tq"))
    adist.join(tdist, "vec_id")
      .filter($"vec_id" =!= 42)
      .select($"vec_id",
        ($"aq".cast("double") / lit(1.0e9)).as("approx_d2"),
        ($"tq".cast("double") / lit(1.0e9)).as("true_d2"))
      .orderBy($"aq", $"vec_id")
      .limit(10)
      .select($"vec_id", $"approx_d2", $"true_d2")
  }

  val llmAnnIvf: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", sqrt(FloatVec.floatDot($"embedding", $"embedding")))
    val cent = e.filter($"vec_id" < 10)
      .select($"vec_id".as("cid"), $"embedding".as("ce"), $"nrm".as("cn"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid")
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("ccos", round(
        FloatVec.floatDot($"embedding", $"ce") / ($"nrm" * $"cn"), 6))
      .withColumn("rn", row_number().over(wAssign))
      .filter($"rn" === 1)
      .select($"vec_id", $"cid", $"embedding", $"nrm")
    val probe = assigned.filter($"vec_id" === 42)
      .select($"cid".as("pcid"), $"embedding".as("pe"), $"nrm".as("pn"))
    assigned.join(broadcast(probe), $"cid" === $"pcid")
      .filter($"vec_id" =!= 42)
      .select($"vec_id", $"cid".cast("long").as("cid"),
        round(FloatVec.floatDot($"embedding", $"pe") / ($"nrm" * $"pn"), 4).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(5)
  }

  /** Composed IVF+PQ residual index with exact refinement — production
    * ANN's 100 TB serving shape (FAISS IVFPQ + RefineFlat): a coarse
    * quantizer prunes the scan to nprobe cells, Product Quantization
    * compresses each RESIDUAL (vector − its cell centroid) to 16
    * four-bit codes (8 bytes vs 256 — 32×) searched via per-cell ADC
    * tables, and the ADC SHORTLIST (top 50) is re-ranked by the exact
    * distance — a 50-row gather at any corpus size, which is what makes
    * sampled (untrained) codebooks serviceable on unclustered data.
    * Fixed codebooks keep every step oracle-checkable (the [[llmAnnIvf]]
    * / [[llmAnnPq]] convention): coarse centroids = vectors 0–3, shared
    * sub-codebooks = the residuals of vectors 8–23 split into 16×4-dim
    * subspaces (one codebook across cells — the classic IVFPQ layout).
    * Probe 42 visits its nprobe=2 nearest cells and builds one 16×16
    * ADC table per visited cell from ITS residual against that cell.
    * Every distance is a per-element nano-quantized BIGINT sum (the
    * [[llmAnnPq]] discipline — order-free, engine-exact), so assignment,
    * codes, the ADC shortlist, the exact re-rank, AND the `in_exact10`
    * recall flag (is this candidate in the brute-force L2 top-10 — the
    * [[llmAnnRecall]] audit wired into the graded output) all
    * hash-match; LlmSpec pins recall ≥ the plain-IVF row's. Work: one
    * posexplode, broadcast centroid/codebook joins, hash aggs — codes
    * plus two 256-entry tables are the only per-probe state; scan cost
    * ∝ the probed cells' share of the corpus.
    */
  val llmAnnIvfPq: Q = (s, dir) => {
    import s.implicits._
    val px = Tables.embeddings(s, dir)
      .select($"vec_id", posexplode($"embedding").as(Seq("p", "v")))
      .select($"vec_id", ($"p" / 4).cast("long").as("m"), $"p",
        $"v".cast("double").as("v"))
      .cp() // assignment, residuals, probe table, true distance share it
    val coarse = px.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"p", $"v".as("cv"))
    val cd2 = px.join(broadcast(coarse), Seq("p"))
      .select($"vec_id", $"cid",
        floor(($"v" - $"cv") * ($"v" - $"cv") * lit(1.0e9) + lit(0.5))
          .cast("long").as("q"))
      .groupBy($"vec_id", $"cid").agg(sum($"q").as("d2q"))
      .cp() // the assignment argmin and the probe's nprobe pick share it
    val assign = cd2.groupBy($"vec_id")
      .agg(min(struct($"d2q", $"cid")).as("mn"))
      .select($"vec_id", $"mn.cid".as("cell"))
    val res = px.join(assign, "vec_id")
      .join(broadcast(coarse.select($"cid".as("cell"), $"p", $"cv")),
        Seq("cell", "p"))
      .select($"vec_id", $"cell", $"m", $"p", ($"v" - $"cv").as("r"))
      .cp() // codebook entries and code assignment both read it
    val ent = res.filter($"vec_id" >= 8 && $"vec_id" < 24)
      .select(($"vec_id" - 8).as("j"), $"m", $"p", $"r".as("e"))
    val rd2 = res.join(broadcast(ent), Seq("m", "p"))
      .select($"vec_id", $"cell", $"m", $"j",
        floor(($"r" - $"e") * ($"r" - $"e") * lit(1.0e9) + lit(0.5))
          .cast("long").as("q"))
      .groupBy($"vec_id", $"cell", $"m", $"j").agg(sum($"q").as("d2q"))
    val codes = rd2.groupBy($"vec_id", $"cell", $"m")
      .agg(min(struct($"d2q", $"j")).as("mn"))
      .select($"vec_id", $"cell", $"m", $"mn.j".as("code"))
    val pcells = cd2.filter($"vec_id" === 42)
      .orderBy($"d2q", $"cid").limit(2)
      .select($"cid".as("pcell"))
    val ptab = px.filter($"vec_id" === 42)
      .crossJoin(broadcast(pcells))
      .join(broadcast(coarse.select($"cid".as("pcell"), $"p", $"cv")),
        Seq("pcell", "p"))
      .select($"pcell", $"m", $"p", ($"v" - $"cv").as("pr"))
      .join(broadcast(ent), Seq("m", "p"))
      .select($"pcell", $"m".as("tm"), $"j".as("tj"),
        floor(($"pr" - $"e") * ($"pr" - $"e") * lit(1.0e9) + lit(0.5))
          .cast("long").as("q"))
      .groupBy($"pcell", $"tm", $"tj").agg(sum($"q").as("td2q"))
    val adist = codes.join(broadcast(ptab),
        $"cell" === $"pcell" && $"m" === $"tm" && $"code" === $"tj")
      .groupBy($"vec_id", $"cell").agg(sum($"td2q").as("aq"))
    val probe = px.filter($"vec_id" === 42)
      .select($"p".as("pp"), $"v".as("pv"))
    val tdist = px.join(broadcast(probe), $"p" === $"pp")
      .select($"vec_id",
        floor(($"v" - $"pv") * ($"v" - $"pv") * lit(1.0e9) + lit(0.5))
          .cast("long").as("q"))
      .groupBy($"vec_id").agg(sum($"q").as("tq"))
      .cp() // the error column and the exact-top-10 flag share it
    val exact10 = tdist.filter($"vec_id" =!= 42)
      .orderBy($"tq", $"vec_id").limit(10).select($"vec_id".as("xv"))
    // ADC shortlist (top 50 by approx distance), then the exact re-rank —
    // the refinement step that pays one 50-row exact gather for the jump
    // in recall (at 100 TB the shortlist is the ONLY place true vectors
    // are touched at query time)
    val shortlist = adist.filter($"vec_id" =!= 42)
      .orderBy($"aq", $"vec_id").limit(50)
    shortlist
      .join(tdist, "vec_id")
      .join(broadcast(exact10), $"vec_id" === $"xv", "left")
      .select($"vec_id", $"cell".cast("long").as("cell"),
        ($"aq".cast("double") / lit(1.0e9)).as("approx_d2"),
        ($"tq".cast("double") / lit(1.0e9)).as("true_d2"),
        when($"xv".isNotNull, 1L).otherwise(0L).as("in_exact10"), $"tq")
      .orderBy($"tq", $"vec_id").limit(10)
      .select($"vec_id", $"cell", $"approx_d2", $"true_d2", $"in_exact10")
  }

  /** IVF ANN with a TRAINED codebook: k-means|| (MLlib, fixed seed, 5
    * Lloyd iterations) learns 8 centroids, vectors are assigned by max
    * cosine, and probe 42 searches its 2 nearest clusters (nprobe=2 — the
    * recall knob). Training is the OFFLINE half of the index (memoized per
    * dir via [[graft.api.VectorIndex.codebookFor]]; persistable with
    * `saveCodebook`): the query itself is pure serving — assignment +
    * cluster-pruned search against the broadcast codebook, which is the
    * 100 TB shape (Bench warms the codebook untimed for the same reason it
    * warms the parquet scan). Float k-means has no cross-engine oracle;
    * LlmSpec asserts determinism and that every returned (vec, cos) agrees
    * with the brute-force ranking.
    */
  private[graft] def kmeansCodebook(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = graft.api.VectorIndex.index(Tables.embeddings(s, dir), $"vec_id", $"embedding")
    // Fingerprint in the key: regenerated embeddings invalidate the
    // memoized codebook instead of serving stale centroids (ADVICE r3).
    val key = dir + "#" + graft.Scratch.fingerprint(s"$dir/embeddings.parquet")
    graft.api.VectorIndex.codebookFor(idx, key = key, k = 8, maxIter = 5, seed = 42L)
  }

  val llmAnnKmeans: Q = (s, dir) => {
    import s.implicits._
    val idx = graft.api.VectorIndex.index(Tables.embeddings(s, dir), $"vec_id", $"embedding")
    val centroids = kmeansCodebook(s, dir)
    val assigned = graft.api.VectorIndex.ivfAssign(idx, centroids)
    graft.api.VectorIndex.ivfSearchN(assigned, centroids, probeId = 42L, k = 5, nprobe = 2)
  }

  /** LSH-bucketed ANN: 4 deterministic ±1 random-hyperplane sign bits
    * (16 buckets) prune the candidate set to the probe's bucket before the
    * exact cosine top-5. The bucket id is pure integer+sign arithmetic over
    * codegen'd dots — deterministic, but the BUCKETING (not the cosines)
    * has no DuckDB twin worth maintaining, so LlmSpec grades it instead:
    * results are a subset of the brute-force ranking with identical cos.
    */
  /** kNN-graph ANN (the HNSW-class graph tier, SURVEY r14): a navigable
    * neighbor graph built by blocked init + 3 NN-DESCENT rounds
    * ([[graft.api.VectorIndex.knnGraph]] — init = exact top-12 inside
    * the fixture's label blocks, then neighbors-of-neighbors refinement;
    * never all-pairs), searched by an 8-round, beam-24 greedy expansion
    * from 10 spread entry vertices ([[graft.api.VectorIndex.knnSearch]] —
    * parameters sized for these near-random 64-dim fixtures, where graph
    * navigability is the worst case: recall@5 = 5/5 at every SF, vs 3/5
    * for llm_ann_ivfpq at the same shortlist —
    * distance evaluations per query independent of corpus size). Output:
    * the probe-42 top-5 with the brute-force-top-10 membership flag (the
    * [[llmAnnRecall]] audit wired into the graded frame, the llmAnnIvfPq
    * convention). Float dots have no portable DuckDB twin => no oracle;
    * LlmSpec pins recall at-least llm_ann_ivfpq's at the same
    * shortlist, graph out-degree, and run-to-run determinism.
    */
  /** JVM-wide memo of the BUILT kNN graph — the offline half of the
    * graph-index split (an HNSW-class build is an offline artifact like
    * the [[graft.api.VectorIndex.codebookFor]] codebooks): k·|V| edge
    * rows, collected once per (dir, data fingerprint) and re-served as a
    * local frame to every query. Bench warms it like the other trained
    * artifacts.
    */
  private val knnGraphs = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, Long, Double)]]()

  private[graft] def knnGraphFor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    knnGraphs.computeIfAbsent(
      dir + "#" + graft.Scratch.fingerprint(s"$dir/embeddings.parquet"), _ => {
        val e = graft.api.VectorIndex.index(
          Tables.embeddings(s, dir), $"vec_id", $"embedding").cp()
        val blocks = Tables.embeddings(s, dir)
          .select($"vec_id", $"label".cast("long").as("block"))
        graft.api.VectorIndex.knnGraph(e, blocks, k = 12, descentRounds = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSeq
      }).toDF("src", "dst", "cos")
  }

  val llmAnnKnnGraph: Q = (s, dir) => {
    import s.implicits._
    val e = graft.api.VectorIndex.index(
      Tables.embeddings(s, dir), $"vec_id", $"embedding").cp()
    val g = knnGraphFor(s, dir)
    val top = graft.api.VectorIndex.knnSearch(e, g, probeId = 42L, k = 5,
      beam = 24, rounds = 8, entries = (0L until 500L by 50L))
    // limit(1) is identity on the unique probe id but makes the scalar
    // attach PROVABLY bounded for the plan audit (maxRows = 1)
    val probe = e.filter($"vec_id" === 42).limit(1)
      .select($"embedding".as("pe"), $"nrm".as("pn"))
    val exact10 = e.crossJoin(broadcast(probe)).filter($"vec_id" =!= 42)
      .select($"vec_id", round(FloatVec.floatDot($"embedding", $"pe") /
        ($"nrm" * $"pn"), 6).as("xcos"))
      .orderBy($"xcos".desc, $"vec_id").limit(10)
      .select($"vec_id", lit(true).as("hit"))
    top.join(exact10, Seq("vec_id"), "left")
      .select($"vec_id", $"cos",
        coalesce($"hit", lit(false)).as("in_exact10"))
      .orderBy($"cos".desc, $"vec_id")
  }

  val llmAnnLsh: Q = (s, dir) => {
    import s.implicits._
    val idx = graft.api.VectorIndex.index(Tables.embeddings(s, dir), $"vec_id", $"embedding")
    graft.api.VectorIndex.lshSearch(idx, probeId = 42L, k = 5, dim = 64, nBits = 4)
  }

  // ===== text analysis =====

  val llmTextStats: Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"lang", $"doc_id", explode(split($"text", " ")).as("tok"))
    val stats = tok.groupBy($"lang").agg(
      countDistinct($"doc_id").as("n_docs"),
      count(lit(1)).as("n_tokens"),
      countDistinct($"tok").as("n_distinct"))
    val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"tok")
    val top = tok.groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"lang", $"tok".as("top_term"), $"cnt".as("top_cnt"))
    stats.join(top, "lang")
      .select($"lang", $"n_docs", $"n_tokens", $"n_distinct",
        pround4($"n_tokens" / $"n_docs").as("avg_tokens"), $"top_term", $"top_cnt")
      .orderBy($"lang")
  }

  /** tf-idf top-3 terms per source: tf = term share within source,
    * idf = ln(n_sources / doc-frequency across sources). The idf
    * transcendental is quantized once per term to a BIGINT nano-unit
    * `floor(ln(ns/dfc)·1e9 + 0.5)` (cross-libm ln drift ≤1.2e-15 vs the
    * 5e-10 boundary spacing in ln units — margin pinned by LlmSpec); the
    * score is then tf × idf_scaled/1e9, a chain of correctly-rounded
    * basic IEEE ops with identical association on both engines, so the
    * ranking AND the rounded output are bit-identical.
    */
  val llmTfidfTopk: Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"source", explode(split($"text", " ")).as("term"))
    val perSrc = tok.groupBy($"source", $"term").agg(count(lit(1)).as("cnt"))
    val tot = tok.groupBy($"source").agg(count(lit(1)).as("total"))
    val dfc = perSrc.groupBy($"term").agg(count(lit(1)).as("dfc"))
    val ns = Tables.documents(s, dir).agg(countDistinct($"source").as("ns"))
    val w = Window.partitionBy($"source").orderBy($"score".desc, $"term")
    perSrc.join(tot, "source").join(dfc, "term").crossJoin(broadcast(ns))
      .withColumn("isc", floor(log($"ns" / $"dfc") * 1.0e9 + 0.5).cast("long"))
      .withColumn("score", ($"cnt" / $"total") * ($"isc" / 1.0e9))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 3)
      .select($"source", $"term", round($"score", 6).as("score"), $"rnk")
      .orderBy($"source", $"rnk")
  }

  val llmTokenCount: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id",
      size(split($"text", " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("bpe_tokens"),
      length($"text").cast("long").as("n_chars_calc"))
      .orderBy($"doc_id")
  }

  /** Heuristic document quality score: stopword ratio, punctuation ratio,
    * average token length — the standard cheap pre-filters of a training
    * data pipeline, one narrow projection pass.
    */
  val llmQualityScore: Q = (s, dir) => {
    import s.implicits._
    val stop = Seq("the", "of", "and", "to", "in", "a", "is")
    Tables.documents(s, dir)
      .select($"doc_id",
        length($"text").cast("long").as("len"),
        size(split($"text", " ")).cast("long").as("nt"),
        size(filter(split($"text", " "), w => w.isin(stop.map(lit): _*)))
          .cast("long").as("stop_cnt"),
        length(regexp_replace($"text", "[a-z0-9 ]", "")).cast("long").as("punct_cnt"))
      .select($"doc_id", $"len", $"nt", $"stop_cnt", $"punct_cnt",
        pround4(($"len" - ($"nt" - 1)) / $"nt").as("avg_tok_len"),
        pround4($"stop_cnt" / $"nt").as("stop_ratio"),
        pround4(
          lit(0.4) * ($"stop_cnt" / $"nt") +
            lit(0.3) * (lit(1.0) - $"punct_cnt" / $"len") +
            lit(0.3) * least(($"len" - ($"nt" - 1)) / $"nt" / 10.0, lit(1.0)))
          .as("quality"))
      .orderBy($"doc_id")
  }

  /** n-gram-heuristic language id: score = stopword-table hits per candidate
    * language, argmax with alphabetical tie-break (the mechanics of a real
    * lang-id pass; the lists are tiny inline fixtures).
    */
  val llmLangId: Q = (s, dir) => {
    import s.implicits._
    val sw = Seq(
      "en" -> "the", "en" -> "and", "en" -> "of", "en" -> "is",
      "de" -> "der", "de" -> "und", "de" -> "das", "de" -> "ist",
      "es" -> "el", "es" -> "que", "es" -> "los", "es" -> "la",
      "fr" -> "le", "fr" -> "et", "fr" -> "les", "fr" -> "des",
      "zh" -> "de", "zh" -> "shi", "zh" -> "bu", "zh" -> "le"
    ).toDF("cand", "w")
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val rn = Window.partitionBy($"doc_id").orderBy($"score".desc, $"cand")
    val best = tok.join(broadcast(sw), "w")
      .groupBy($"doc_id", $"cand").agg(count(lit(1)).as("score"))
      .withColumn("rn", row_number().over(rn)).filter($"rn" === 1)
      .select($"doc_id", $"cand", $"score")
    Tables.documents(s, dir).join(best, Seq("doc_id"), "left")
      .select($"doc_id", $"lang",
        coalesce($"cand", lit("und")).as("lang_pred"),
        coalesce($"score", lit(0L)).as("score"))
      .orderBy($"doc_id")
  }

  /** Document fingerprint: min salted-md5 shingle hash (winnowing-style
    * content signature) + shingle cardinality.
    */
  val llmFingerprint: Q = (s, dir) => {
    import s.implicits._
    shingleRows(s, dir)
      .groupBy($"doc_id")
      .agg(min(substring(md5($"s"), 1, 16)).as("fingerprint"),
        count(lit(1)).as("n_shingles"))
      .orderBy($"doc_id")
  }

  /** The training-data cleaning pipeline end-to-end in ONE declarative
    * query — quality gate (≥10 tokens) → exact dedup (keep min id) →
    * near-dup drop (Jaccard ≥ 0.6, survivor = smaller id) → per-lang corpus
    * stats. Each stage is an operator proven above; composing them in one
    * plan is the point: Catalyst sees the whole pipeline (shared scans,
    * pushed filters), exactly how a 100 TB cleaning job should be shaped —
    * one pass, not four materialized stages.
    */
  val llmPipelineE2e: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val keepq = docs.filter(size(split($"text", " ")) >= 10)
    val exactKeep = graft.api.TextPipeline.dedupExact(keepq, $"doc_id", $"text")
      .select($"keep_id")
    val nearDrop = jaccardPairs(s, dir, 0.6).select($"d2").distinct()
    keepq
      .join(exactKeep, $"doc_id" === $"keep_id")
      .join(nearDrop, $"doc_id" === $"d2", "left_anti")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " "))).cast("long").as("n_tokens"))
      .orderBy($"lang")
  }

  /** Per-LABEL top-3 neighbors of the probe via the bounded-heap
    * [[graft.expr.TopKAgg]] — the 100 TB top-k-similarity shape: O(k) state
    * per group merged associatively at the exchange, versus a window sort
    * shuffling every scored row. Oracle = the row_number window formulation
    * (identical (cos desc, vec_id) tie rule).
    */
  val llmSimTopk: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", sqrt(FloatVec.floatDot($"embedding", $"embedding")))
    val probe = e.filter($"vec_id" === 42).select($"embedding".as("pe"), $"nrm".as("pn"))
    val scored = e.filter($"vec_id" =!= 42).crossJoin(broadcast(probe))
      .select($"label", $"vec_id",
        round(FloatVec.floatDot($"embedding", $"pe") / ($"nrm" * $"pn"), 4).as("cos"))
    val topk = graft.expr.TopKAgg.topk(3)
    scored.groupBy($"label")
      .agg(topk($"cos", $"vec_id").as("top"))
      .select($"label".cast("long").as("label"), posexplode($"top").as(Seq("p0", "t")))
      .select($"label", ($"p0" + 1).cast("long").as("rnk"),
        $"t._2".as("vec_id"), $"t._1".as("cos"))
      .orderBy($"label", $"rnk")
  }

  /** The PRETRAINING pipeline end to end: quality gate → exact dedup →
    * concat-and-chunk packing → per-(source, chunk) stats, all one Catalyst
    * plan. Complements [[llmPipelineE2e]] (which ends at per-lang stats)
    * with the packing tail every LLM data pipeline actually ships.
    */
  val llmPipelinePack: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val keepq = docs.filter(size(split($"text", " ")) >= 10)
    val exactKeep = keepq
      .groupBy(sha2(lower(trim($"text")), 256).as("h"))
      .agg(min($"doc_id").as("keep"))
    val survivors = keepq.join(exactKeep, $"doc_id" === $"keep")
    graft.api.TextPipeline.packChunks(survivors, $"source", $"doc_id", $"text", 256)
      .groupBy($"grp".as("source"), $"chunk")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("chunk_tokens"))
      .orderBy($"source", $"chunk")
  }

  /** Corpus n-gram statistics: top-5 bigrams per language with counts and
    * ranks — the vocabulary/phrase-frequency pass of a training-data
    * pipeline. Bigrams come from one `zip_with` over the token array (no
    * token self-join; the pair construction is per-row, the only shuffle is
    * the (lang, bigram) count agg + the tiny per-lang top-k window). The
    * zip_with lambda is interpreted, but it feeds a hash agg, not a pair
    * join, so codegen blocking is immaterial here.
    */
  val llmNgramFreq: Q = (s, dir) => {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"lang", split(trim($"text"), " ").as("t"))
    val n1 = greatest(size($"t") - 1, lit(0))
    val bi = toks.select($"lang", explode(
      zip_with(slice($"t", lit(1), n1), slice($"t", lit(2), n1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
    val cnt = bi.groupBy($"lang", $"bigram").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"lang").orderBy($"n".desc, $"bigram")
    cnt.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"lang", $"bigram", $"n", $"rk".cast("long").as("rk"))
      .orderBy($"lang", $"rk")
  }

  /** Deterministic stratified downsampling — the corpus-rebalancing step of
    * a training-data pipeline: keep ≈50% of documents per language stratum
    * by an md5(doc_id) threshold (pure function of the key ⇒ reproducible
    * across runs, engines, and cluster layouts — never `rand()`), report
    * per-stratum totals, kept counts, and the realized ratio.
    */
  val llmSampleStratified: Q = (s, dir) => {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .withColumn("keep", substring(md5($"doc_id".cast("string")), 1, 1) < "8")
    d.groupBy($"lang").agg(
        count(lit(1)).as("n_total"),
        count(when($"keep", 1)).as("n_kept"))
      .withColumn("kept_ratio", pround4($"n_kept" / $"n_total"))
      .orderBy($"lang")
  }

  /** Deterministic weighted source INTERLEAVE — the data-loader mixing step
    * that turns per-source corpora + mixing weights into one training ORDER
    * (the consumption-side twin of [[llmImportanceResample]], which decides
    * how MUCH of each source to keep): source s with integer weight w
    * emits its rn-th document at virtual time (rn−1)·L/w (L = lcm of the
    * weight domain, so vt is exact integer arithmetic — no float schedule
    * drift between engines), and the global order by (vt, source, doc_id)
    * interleaves sources proportionally to their weights — the standard
    * deterministic round-robin schedule. Weights derive from the source id
    * (1 + idx mod 4) so the op is a pure function of the data.
    *
    * Scale shape: the per-source ordinal is ONE shuffle partitioned by
    * source (a skewed giant source makes this a range-partitioned rank —
    * same plan family as `llm_pack_chunks`); the 200-position prefix is
    * TakeOrderedAndProject (no global sort materializes), and the position
    * ordinal windows over those 200 rows only. The full-corpus variant at
    * 100 TB drops the position column and WRITES sorted by (vt, source,
    * doc_id) — a range shuffle, which IS the training order.
    */
  val llmInterleaveMix: Q = (s, dir) => {
    import s.implicits._
    val byS = Window.partitionBy($"source").orderBy($"doc_id")
    val r = Tables.documents(s, dir).select($"source", $"doc_id")
      .withColumn("rn", row_number().over(byS).cast("long"))
      .withColumn("w", lit(1L) + expr("cast(substring(source, 4) as bigint) % 4"))
      .withColumn("vt", expr("((rn - 1) * 12) div w"))
    val top = r.orderBy($"vt", $"source", $"doc_id").limit(200)
    top.withColumn("position",
        row_number().over(Window.orderBy($"vt", $"source", $"doc_id")).cast("long"))
      .select($"position", $"source", $"doc_id", $"vt")
      .orderBy($"position")
  }

  /** Unigram-LM quality proxy — the cheap "perplexity-style" document
    * scorer of a training-data pipeline: corpus unigram frequencies feed a
    * per-document average surprise avg(−ln p(token)). Low = repetitive/
    * templated text, high = rare-token soup; both tails get cut in
    * practice. The vocabulary joins BROADCAST (Heaps' law: |vocab| ≪
    * corpus tokens; at 100 TB a many-GB vocabulary would switch this to a
    * shuffle join on token, same plan otherwise). Each token's surprise
    * is quantized to a BIGINT nano-unit `floor(−ln(c/n)·1e9 + 0.5)`
    * BEFORE aggregation: the per-term transcendental lands ≥5 orders of
    * magnitude from a quantization boundary (LlmSpec pins the margin),
    * the sum is then exact integer arithmetic (no FP reduction-order
    * drift), and the final avg is one correctly-rounded division —
    * bit-identical on both engines. `round(avg(-ln ...), 4)` — the old
    * spelling — is the cross-libm bet that red-rowed llm_collocations.
    */
  val llmUnigramLogprob: Q = (s, dir) => {
    import s.implicits._
    // freq and the per-doc join share this lineage — checkpoint so the
    // tokenize pass runs once, not once per join side
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split(trim($"text"), " ")).as("t"))
      .cp()
    val freq = tok.groupBy($"t").agg(count(lit(1)).as("c"))
    val tot = tok.agg(count(lit(1)).as("n"))
    tok.join(broadcast(freq), "t").crossJoin(broadcast(tot))
      .withColumn("sc", floor(-log($"c" / $"n") * 1.0e9 + 0.5).cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum($"sc") / (count(lit(1)) * 1.0e9), 4).as("avg_surprise"))
      .orderBy($"doc_id")
  }

  /** CCNet-style perplexity-quantile filter — the standard LM-quality
    * gate: score every document with the unigram-LM surprise
    * ([[llmUnigramLogprob]]'s scorer), split the corpus into surprise
    * quartiles, and keep the MIDDLE two (the head is boilerplate/dup-heavy,
    * the tail is noise — the CCNet recipe). The quantile split orders by
    * the ROUNDED score + doc_id so both engines rank the identical total
    * order (raw float averages could ulp-swap neighbors). The quartile is
    * a [[graft.api.DistScan]] range-partitioned global rank +
    * [[graft.api.DistScan.ntileOfRank]] arithmetic over the per-doc
    * aggregate (|docs| rows) — never a single-partition window; the token
    * work is the same two-shuffle pass as the scorer.
    */
  val llmPerplexityFilter: Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split(trim($"text"), " ")).as("t"))
      .cp()
    val freq = tok.groupBy($"t").agg(count(lit(1)).as("c"))
    val tot = tok.agg(count(lit(1)).as("n"))
    val scored = tok.join(broadcast(freq), "t").crossJoin(broadcast(tot))
      .withColumn("sc", floor(-log($"c" / $"n") * 1.0e9 + 0.5).cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum($"sc") / (count(lit(1)) * 1.0e9), 4).as("avg_surprise"))
    val ranked = graft.api.DistScan.withGlobalRank(
      scored, "__r", $"avg_surprise", $"doc_id")
    val n = ranked.agg(max($"__r").as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("q", graft.api.DistScan.ntileOfRank($"__r", $"__n", 4))
      .filter($"q" === 2L || $"q" === 3L)
      .select($"doc_id", $"n_tokens", $"avg_surprise", $"q")
      .orderBy($"doc_id")
  }

  /** Gopher-style repetition quality signals per document: duplicate
    * bigram/trigram fractions and most-frequent-word dominance, plus the
    * repetitive-document flag (dup-2gram fraction > 0.2 OR top-word
    * fraction > 0.3 — compared in exact integer arithmetic, never on the
    * rounded doubles). Everything is per-row ARRAY computation inside
    * whole-stage codegen — zero shuffles, embarrassingly parallel at any
    * scale. The per-doc top-word scan is O(distinct·n): right for
    * bounded-length documents (this corpus); an unbounded-doc corpus
    * would use the explode+agg twin (the [[llmNgramFreq]] shape) instead.
    * Ratios are small-int/small-int divisions — identical IEEE operands on
    * both engines — quantized by [[pround4]].
    */
  val llmRepetitionFilter: Q = (s, dir) => {
    import s.implicits._
    graft.api.TextPipeline
      .repetitionSignals(Tables.documents(s, dir), $"doc_id", $"text")
      .orderBy($"doc_id")
  }

  /** Source×source contamination matrix: for every pair of corpus sources,
    * the number of distinct 3-token shingles they share and the
    * shingle-set Jaccard — the corpus-level overlap report a pipeline runs
    * BEFORE committing to a source mix (llm_decontaminate is the per-doc
    * drill-down). The shingle equi-join is blocked by the shingle value and
    * each block holds at most one row per source, so the pair stream is
    * ≤ C(|sources|,2) per shingle — LINEAR in corpus size, unlike the
    * per-document pair ops; output is C(|sources|,2) rows. Exact BIGINT
    * counts; the Jaccard is one small-int ratio under [[pround4]].
    */
  val llmOverlapMatrix: Q = (s, dir) => {
    import s.implicits._
    graft.api.TextPipeline
      .overlapMatrix(Tables.documents(s, dir), $"doc_id", $"text", $"source")
      .orderBy($"src1", $"src2")
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): hash every 3-token shingle (portable md5₃₂ — the
    * [[llmRollingHash]] token-hash spelling), slide a window of 4
    * consecutive shingle hashes over the document, keep the minimum of
    * each window, emit the distinct selected hashes as the document's
    * fingerprint set. Guarantees every shared substring of ≥ 6 tokens
    * contributes at least one common fingerprint while sampling only
    * ~2/(w+1) of the hashes — the standard near-dup/plagiarism sketch at
    * corpus scale. Per-row ARRAY computation (bounded docs, zero shuffles
    * before the final explode+distinct); docs need ≥ 6 tokens for one
    * full window.
    */
  val llmWinnowing: Q = (s, dir) => {
    import s.implicits._
    graft.api.TextPipeline
      .winnowing(Tables.documents(s, dir), $"doc_id", $"text", k = 3, w = 4)
      .orderBy($"doc_id", $"fp")
  }

  /** Deterministic temperature-weighted source resampling — the
    * training-mix operator: per-source budgets ∝ size^α (α = 0.5, the
    * standard multi-corpus temperature flattening) for a total budget of
    * half the corpus, then per-document keep/drop decided by an md5₃₂
    * threshold test on doc_id — reproducible on any engine, no RNG state.
    * Cross-engine determinism: per-source weights are sqrt-quantized to
    * BIGINT BEFORE the global sum (a raw DOUBLE weight sum would be
    * reduction-order-dependent); every remaining double op (sqrt, ·, ÷,
    * least, floor) is a correctly-rounded IEEE basic op on identical
    * operands. One tiny (|sources|-row) broadcast joins the thresholds to
    * the corpus scan — the selection itself is a codegen'd filter, zero
    * extra shuffles at any scale.
    */
  val llmImportanceResample: Q = (s, dir) => {
    import s.implicits._
    val st = Tables.documents(s, dir).groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sz"))
    val wt = st.select($"source", $"n_docs",
      floor(sqrt($"sz".cast("double")) * 1000.0 + 0.5).cast("long").as("wq"))
    val tw = wt.agg(sum($"wq").as("swq"), sum($"n_docs").as("nd"))
    val rt = wt.crossJoin(broadcast(tw))
      .select($"source",
        floor(least(lit(1.0), ($"nd" / 2.0) * ($"wq".cast("double") / $"swq") / $"n_docs")
          * 1000000.0).cast("long").as("thr"))
    Tables.documents(s, dir).select($"doc_id", $"source")
      .join(broadcast(rt), "source")
      .filter(expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 1000000")
        < $"thr")
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  /** Near-dup candidate pairs from shared winnowing fingerprints — the
    * fingerprint-index alternative to MinHash banding: documents sharing
    * ≥ 2 selected fingerprints are candidates (any shared ≥ 6-token run
    * guarantees ≥ 1 shared fingerprint, so 2 is "more than one shared
    * region or one long run"). The fingerprint value is the blocking key;
    * blocks are as small as the fingerprint is rare, and the exact
    * pair stream is budget-gated like the other exact pair twins
    * ([[graft.api.PairBudget]]). Emits (d1, d2, n_shared_fp), the
    * candidate list a verifier (exact Jaccard, [[llmDedupNear]]'s core)
    * would consume.
    */
  val llmDedupWinnow: Q = (s, dir) => {
    import s.implicits._
    // three consumers (budget histogram, a, b) — one fingerprint build
    val fps = graft.api.TextPipeline
      .winnowing(Tables.documents(s, dir), $"doc_id", $"text", k = 3, w = 4)
      .cp()
    val ga = graft.api.PairBudget.gate(fps, Seq($"fp"),
      "llm_dedup_winnow", "llm_dedup_minhash")
    ga.as("a").join(fps.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter($"n_shared_fp" >= 2)
      .orderBy($"d1", $"d2")
  }

  /** Order-sensitive document fingerprint: polynomial rolling hash over the
    * token stream, h = (h·31 + md5₃₂(tok)) mod 1000003 — same left fold on
    * both engines (Spark `aggregate` seeded with the first token ≡ DuckDB
    * `reduce`). Complements llm_fingerprint (set-based min-hash): the
    * rolling hash changes when token ORDER changes.
    */
  val llmRollingHash: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", expr(
        """aggregate(
          |  transform(slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |            t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 1000003),
          |  CAST(conv(substring(md5(split(text, ' ')[0]), 1, 8), 16, 10) AS BIGINT) % 1000003,
          |  (a, x) -> (a * 31 + x) % 1000003)""".stripMargin).as("rolling"))
      .orderBy($"doc_id")
  }

  // ===== multimodal =====

  /** Multimodal join: text + vector in one row (doc_id = vec_id), filtered
    * by lang, scored against a probe embedding.
    */
  val llmMultimodalJoin: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("selfdot", FloatVec.floatDot($"embedding", $"embedding"))
    val probe = e.filter($"vec_id" === 0)
      .select($"embedding".as("pe"), $"selfdot".as("pd"))
    Tables.documents(s, dir).filter($"lang" === "en")
      .join(e, $"doc_id" === $"vec_id")
      .crossJoin(broadcast(probe))
      .select($"doc_id", $"label".cast("long").as("label"), $"n_chars",
        round(FloatVec.floatDot($"embedding", $"pe") / (sqrt($"selfdot") * sqrt($"pd")), 4)
          .as("cos_probe"))
      .orderBy($"doc_id")
  }

  /** Opaque-binary decode plumbing (images/audio in a real pipeline; the
    * container has no codec libs, so the "decode" is a deterministic stub —
    * SHA-256 + byte length — while the Spark-side shape is real: a typed
    * Dataset, batched mapPartitions with per-partition state (the digest),
    * schema'd output). Swapping the stub for a JNI/image decode keeps every
    * other line unchanged.
    */
  val mmDecodeStub: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[MmPayload]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.map { r =>
          val digest = md.digest(r.payload)
          (r.doc_id, r.payload.length.toLong,
            digest.map("%02x".format(_)).mkString)
        }
      }
      .toDF("doc_id", "n_bytes", "sha")
      .orderBy($"doc_id")
  }

  /** ViT-style image tile manifest — the 16×16 patching schedule a vision
    * preprocessor emits per image (edge tiles truncated, never padded
    * here — the padding mask is the consumer's): payload dims come from
    * the [[graft.api.Codec]] seam's decode (STUB dims in this container;
    * a real codec swaps in via -Dgraft.codec.class without touching this
    * op), and the grid then derives DECLARATIVELY from the (w, h)
    * metadata — two sequence explodes inside codegen, the payload bytes
    * never reshuffle. Oracle replays the stub's documented dim
    * arithmetic (the mm-family convention).
    */
  val mmTileGrid: Q = (s, dir) => {
    import s.implicits._
    val dec = graft.api.Multimodal.decode(
      Tables.documents(s, dir)
        .select($"doc_id".as("id"), $"text".cast("binary").as("payload"))
        .as[graft.api.Multimodal.Payload]).toDF()
    dec
      .select($"id".as("doc_id"), $"width".cast("long").as("w"),
        $"height".cast("long").as("h"))
      .select($"doc_id", $"w", $"h",
        explode(sequence(lit(0L), expr("(w - 1) DIV 16"))).as("tx"))
      .select($"doc_id", $"w", $"h", $"tx",
        explode(sequence(lit(0L), expr("(h - 1) DIV 16"))).as("ty"))
      .select($"doc_id", $"tx".as("tile_x"), $"ty".as("tile_y"),
        least(lit(16L), $"w" - $"tx" * 16).as("px_w"),
        least(lit(16L), $"h" - $"ty" * 16).as("px_h"))
      .orderBy($"doc_id", $"tile_x", $"tile_y")
  }

  /** Aspect-preserving resize plan over decoded dims (max side 64) — the
    * metadata half of an image-resize stage: the SCALE decision is pure
    * integer/one-double arithmetic over [[graft.api.Multimodal.decode]]'s
    * (w, h) and runs without touching payload bytes; the pixel kernel
    * is the codec's job at apply time. Truncation (toward zero) is
    * mirrored with trunc() in the oracle — both engines evaluate the
    * identical IEEE scale product.
    */
  val mmResizeBatch: Q = (s, dir) => {
    import s.implicits._
    val dec = graft.api.Multimodal.decode(
      Tables.documents(s, dir)
        .select($"doc_id".as("id"), $"text".cast("binary").as("payload"))
        .as[graft.api.Multimodal.Payload])
    graft.api.Multimodal.resize(dec, maxSide = 64).toDF()
      .join(dec.toDF().select($"id", $"width".as("orig_w"),
        $"height".as("orig_h")), "id")
      .select($"id".as("doc_id"), $"orig_w".cast("long").as("orig_w"),
        $"orig_h".cast("long").as("orig_h"),
        $"width".cast("long").as("out_w"),
        $"height".cast("long").as("out_h"))
      .orderBy($"doc_id")
  }

  /** Video-style frame sampling over opaque payloads (text bytes stand in
    * for the codec stream — ASCII, so byte slices == char slices and the
    * DuckDB oracle can replay them with substr): 16-byte frames, every 4th
    * kept, hashed. One generator-shaped mapPartitions pass via
    * [[graft.api.Multimodal.sampleFrames]].
    */
  val mmFrameSample: Q = (s, dir) => {
    import s.implicits._
    val payloads = Tables.documents(s, dir)
      .select($"doc_id".as("id"), $"text".cast("binary").as("payload"))
      .as[graft.api.Multimodal.Payload]
    graft.api.Multimodal.sampleFrames(payloads, frameBytes = 16, stride = 4)
      .toDF("doc_id", "frame_idx", "frame")
      .select($"doc_id", $"frame_idx", md5($"frame").as("frame_md5"))
      .orderBy($"doc_id", $"frame_idx")
  }

  /** Audio-style overlapping windows (32-byte windows, 16-byte stride) with
    * a per-window energy proxy, via [[graft.api.Multimodal.windowEnergy]].
    * The documents text is ASCII, so the byte-sum energy has an exact
    * character-code oracle (`ord` in DuckDB).
    */
  val mmAudioWindow: Q = (s, dir) => {
    import s.implicits._
    val payloads = Tables.documents(s, dir)
      .select($"doc_id".as("id"), $"text".cast("binary").as("payload"))
      .as[graft.api.Multimodal.Payload]
    graft.api.Multimodal.windowEnergy(payloads, windowBytes = 32, stride = 16)
      .toDF("doc_id", "win_idx", "energy")
      .orderBy($"doc_id", $"win_idx")
  }

  /** Cross-document frame dedup — the content-addressed frame store's
    * savings ledger at FRAME granularity (mm_payload_dedup is the whole-
    * payload version): every full 16-byte frame of every payload hashed,
    * digests with ≥ 2 occurrences reported with copy/document counts and
    * the canonical first holder. The md5 is the shuffle key — frames
    * never move as bytes past the hash projection.
    */
  val mmFrameDedup: Q = (s, dir) => {
    import s.implicits._
    val payloads = Tables.documents(s, dir)
      .select($"doc_id".as("id"), $"text".cast("binary").as("payload"))
      .as[graft.api.Multimodal.Payload]
    graft.api.Multimodal.sampleFrames(payloads, frameBytes = 16, stride = 1)
      .toDF("doc_id", "frame_idx", "frame")
      .select($"doc_id", md5($"frame").as("h"))
      .groupBy($"h")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("first_doc"))
      .filter($"n_copies" >= 2)
      .orderBy($"h")
  }

  /** Video scene-cut detection over stub frame energies — the shot-
    * boundary pass a video-curation pipeline runs before sampling
    * keyframes: 16-byte non-overlapping "frames" through the
    * [[graft.api.Codec]] energy kernel (stub: byte sum; a real build
    * swaps an encoder in via the seam), a cut wherever the consecutive
    * energy delta exceeds 200. The lag runs per document (partitioned
    * window); exact integer energies so the threshold compare is
    * engine-portable.
    */
  val mmSceneCuts: Q = (s, dir) => {
    import s.implicits._
    val payloads = Tables.documents(s, dir)
      .select($"doc_id".as("id"), $"text".cast("binary").as("payload"))
      .as[graft.api.Multimodal.Payload]
    val en = graft.api.Multimodal
      .windowEnergy(payloads, windowBytes = 16, stride = 16)
      .toDF("doc_id", "win_idx", "energy")
    val w = Window.partitionBy($"doc_id").orderBy($"win_idx")
    en.withColumn("prev", lag($"energy", 1).over(w))
      .filter($"prev".isNotNull && abs($"energy" - $"prev") > 200)
      .select($"doc_id", $"win_idx".as("cut_idx"),
        $"prev".as("prev_energy"), $"energy",
        abs($"energy" - $"prev").as("delta"))
      .orderBy($"doc_id", $"cut_idx")
  }

  /** Regex scalar surface — the extract / global-replace / match-count /
    * boolean-match quartet every text pipeline leans on, spelled in the
    * POSIX-class subset where Java regex (Spark) and RE2 (DuckDB) agree
    * (no backrefs, no lookaround — those diverge across engines and
    * forfeit codegen). All four stay inside whole-stage codegen; the scan
    * reads exactly (p_partkey, p_name).
    */
  val fnRegex: Q = (s, dir) => {
    import s.implicits._
    Tables.part(s, dir).select(
      $"p_partkey",
      regexp_extract($"p_name", "^([a-z]+)", 1).as("head_word"),
      regexp_replace($"p_name", "[aeiou]", "").as("devoweled"),
      size(regexp_extract_all($"p_name", lit("[a-z]+"), lit(0))).cast("long")
        .as("n_words"),
      $"p_name".rlike("red|blue|green").as("has_color"))
      .orderBy($"p_partkey")
  }

  /** Cross-document duplicated-span coverage — the detection half of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": spans of ≥ k tokens appearing verbatim
    * in more than one document are memorization fuel and get cut). The
    * suffix-array formulation is inherently single-machine; the
    * relational equivalent fingerprints every k-token window (k = 8) and
    * marks windows whose exact text occurs in ≥ 2 distinct documents —
    * per document: how many of its windows are cross-doc duplicates.
    * Downstream, `dup_ratio` ≈ 1 flags boilerplate mirrors; mid-range
    * flags quote-heavy docs for span-level cutting.
    *
    * Scale shape: the window stream is generated in-place (explode over a
    * sequence — no per-doc array shuffle), and the one heavy exchange
    * groups it by gram to count distinct docs; the dup-gram set then joins
    * back on the SAME gram key, so the grouped partitioning is reused
    * (co-partitioned join, no second full shuffle of the stream). At
    * 100 TB the gram key would be xxhash64(gram) — 8 bytes shuffled
    * instead of a 50-byte string, collision-safe for counting "≥ 2 docs"
    * — kept as the raw text here so the DuckDB oracle replays bit-for-bit.
    */
  val llmDupNgramSpans: Q = (s, dir) => {
    import s.implicits._
    val k = 8
    val grams = Tables.documents(s, dir)
      .select($"doc_id", split(trim($"text"), " ").as("toks"))
      .withColumn("n", size($"toks").cast("long"))
      .filter($"n" >= k)
      .select($"doc_id", $"toks",
        explode(sequence(lit(1L), $"n" - (k - 1))).as("i"))
      .select($"doc_id",
        concat_ws(" ", slice($"toks", $"i".cast("int"), lit(k))).as("gram"))
      .cp() // feeds the dup-gram agg AND the coverage join below
    val dup = grams.groupBy($"gram")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"gram", lit(true).as("is_dup"))
    grams.join(dup, Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("total_spans"),
        count(when($"is_dup", 1)).as("dup_spans"))
      .withColumn("dup_ratio", pround4($"dup_spans" / $"total_spans"))
      .orderBy($"doc_id")
  }

  /** BM25 retrieval scoring (Robertson/Spärck Jones, k1 = 1.2, b = 0.75)
    * of every document against a corpus-derived probe query — the ranking
    * half of a training-data curation loop (find documents most "about"
    * the dominant corpus topic; the same plan serves decontamination
    * probes and topic-targeted sampling). The query is a pure function of
    * the data: the 3 highest-df tokens (ties by token) — no out-of-band
    * query literal the oracle couldn't reconstruct.
    *
    * Hash discipline: BM25's tf saturation is a RATIONAL in the integers
    * (tf, doc len L, corpus totals N, T): with k1 = 6/5, b = 3/4,
    * tf·(k1+1) / (tf + k1(1−b+b·L·N/T)) = 44·tf·T / (20·tf·T + 6·T +
    * 18·L·N) exactly. The implementation evaluates it as one BIGINT
    * integer division scaled to micro-units; the sole transcendental
    * (idf's ln) is nano-quantized per TERM — 3 values corpus-wide —
    * before entering the integer pipeline. Score = Σ idf_nano·ratio_micro
    * in exact BIGINT (bounded by ~2.4e16·|q| ≪ 2^63 at any SF whose
    * corpus token count T keeps 44·tf·T·1e6 under 2^63 — ~2e11 tokens;
    * past that this column widens to DECIMAL(38,0), same plan), rounded
    * once for display.
    *
    * Scale shape: one tokenize pass is checkpointed and reused for doc
    * lengths, df, and tf (three aggs, no re-scan); the 3-term query and
    * the two corpus scalars broadcast into the tf stream, so the only
    * big exchange is the (doc, term) tf agg — partial map-side. Top-20 is
    * TakeOrderedAndProject, never a global sort.
    */
  val llmBm25Topk: Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split(trim($"text"), " ")).as("t"))
      .cp()
    val lens = tok.groupBy($"doc_id").agg(count(lit(1)).as("len"))
    val tots = lens.agg(count(lit(1)).as("nd"), sum($"len").as("tt"))
    val dfq = tok.select($"doc_id", $"t").distinct()
      .groupBy($"t").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"t").limit(3)
    val q = dfq.crossJoin(tots)
      // (2N−2df+1)/(2df+1) is an exact-rational double division; ln is the
      // one libm call, quantized immediately (3 values corpus-wide)
      .withColumn("idf_nano",
        floor(log((lit(2) * $"nd" - lit(2) * $"df" + lit(1)) /
          (lit(2) * $"df" + lit(1)) + lit(1)) * 1.0e9 + 0.5).cast("long"))
      .select($"t", $"idf_nano", $"nd", $"tt")
    tok.groupBy($"doc_id", $"t").agg(count(lit(1)).as("tf"))
      .join(broadcast(q), "t")
      .join(lens, "doc_id")
      .withColumn("ratio_micro", expr(
        "(44 * tf * tt * 1000000L) DIV (20 * tf * tt + 6 * tt + 18 * len * nd)"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum($"idf_nano" * $"ratio_micro") / 1.0e15, 4).as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(20)
  }

  /** Edit-distance fuzzy self-join — the catalog-normalization primitive
    * (near-identical product/entity names differing by a typo are one
    * entity; the string-side sibling of the shingle/minhash document
    * dedups, which never see sub-token edits). Pairs within Levenshtein ≤ 2
    * over the distinct name set, found by LENGTH-BAND blocking: edit
    * distance ≥ |len(a) − len(b)|, so the ±2 band is a LOSSLESS candidate
    * set — no all-pairs join ever forms. The band is spelled as an
    * equi-join (explode each name to its 5 admissible peer lengths), so the
    * plan is a hash/sort-merge join, never BNLJ, and the candidate stream
    * sits under the same [[graft.api.PairBudget]] contract as every other
    * pair op. At 100 TB the block key tightens to (length, first char) or a
    * deletion-neighborhood hash — same plan, smaller blocks; `levenshtein`
    * is codegen'd on both engines.
    */
  val llmFuzzyJoin: Q = (s, dir) => {
    import s.implicits._
    val names = Tables.part(s, dir).select($"p_name").distinct()
      .withColumn("len", length($"p_name"))
      .cp() // vocab-sized; feeds the gate histogram AND both join sides
    val probes = names.select($"p_name".as("n1"),
      explode(sequence($"len" - 2, $"len" + 2)).as("lb"))
    val gated = graft.api.PairBudget.gate(probes, Seq($"lb"),
      "llm_fuzzy_join", "a (length, prefix) block key")
    gated.join(names.select($"p_name".as("n2"), $"len".as("lb")), Seq("lb"))
      .filter($"n1" < $"n2")
      .withColumn("dist", levenshtein($"n1", $"n2").cast("long"))
      .filter($"dist" <= 2)
      .select($"n1", $"n2", $"dist")
      .orderBy($"n1", $"n2")
  }

  /** Zipf rank-frequency fit — the corpus-health diagnostic (natural text
    * tracks slope ≈ −1 in log-log rank/frequency; generated or templated
    * text bends the line, so curation monitors the fitted slope per shard).
    * Token frequencies are exact counts; ranks are assigned by a
    * deterministic (freq DESC, token) order; the least-squares fit runs
    * over MICRO-QUANTIZED ln(rank)/ln(freq) (floor(ln·1e6 + 0.5), the §2.9
    * transcendental discipline — margins pinned in LlmSpec) so Sx/Sy/Sxx/
    * Sxy are exact BIGINT sums in any reduction order, and slope/intercept
    * are single fixed expression trees over five exact scalars.
    *
    * Scale shape: everything after the (token) count agg is vocab-sized —
    * the rank window is a single-partition sort of the VOCABULARY (≈ 10⁶
    * rows for a 100 TB corpus — Heaps' law, fine on one executor), never of
    * the corpus; sums fit BIGINT to vocab ≈ 4e8 (Σx² ≤ v·(ln v·1e6)²),
    * past which they widen to DECIMAL(38,0).
    */
  val llmZipfSlope: Q = (s, dir) => {
    import s.implicits._
    val byFreq = Window.orderBy($"f".desc, $"t")
    val pts = Tables.documents(s, dir)
      .select(explode(split(trim($"text"), " ")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("f"))
      .withColumn("r", row_number().over(byFreq))
      .select(
        floor(log($"r".cast("double")) * 1.0e6 + 0.5).cast("long").as("x"),
        floor(log($"f".cast("double")) * 1.0e6 + 0.5).cast("long").as("y"))
    pts
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
      .select($"n".as("n_terms"),
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).as("slope"),
        (($"sy".cast("double") -
          (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
            $"sx".cast("double")) / $"n".cast("double") / lit(1.0e6))
          .as("intercept"))
  }

  /** N-gram novelty curve — per document (in doc_id ingestion order): what
    * fraction of its 5-token windows has never appeared in any EARLIER
    * document? The curation signal behind "is this shard still adding new
    * content or re-serving what we have" (the marginal-value twin of
    * [[llmDupNgramSpans]]'s symmetric duplicate coverage). Relationally:
    * first-occurrence doc per gram = one min() agg, a gram is novel in
    * exactly the doc that minted it; the join back rides the gram-agg
    * partitioning (same co-partitioned shape as the dup-span op). At
    * 100 TB: gram → xxhash64 for an 8-byte shuffle key, and doc_id order
    * generalizes to any monotone ingestion stamp.
    */
  val llmNgramNovelty: Q = (s, dir) => {
    import s.implicits._
    val k = 5
    val grams = Tables.documents(s, dir)
      .select($"doc_id", split(trim($"text"), " ").as("toks"))
      .withColumn("n", size($"toks").cast("long"))
      .filter($"n" >= k)
      .select($"doc_id", $"toks",
        explode(sequence(lit(1L), $"n" - (k - 1))).as("i"))
      .select($"doc_id",
        concat_ws(" ", slice($"toks", $"i".cast("int"), lit(k))).as("gram"))
      .cp() // feeds the first-occurrence agg AND the novelty join
    val first = grams.groupBy($"gram").agg(min($"doc_id").as("first_doc"))
    grams.join(first, Seq("gram"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("total_grams"),
        count(when($"doc_id" === $"first_doc", 1)).as("novel_grams"))
      .withColumn("novelty", pround4($"novel_grams" / $"total_grams"))
      .orderBy($"doc_id")
  }

  /** Directed shingle containment — |A ∩ B| / |A| ≥ 0.8 over distinct
    * 3-shingle sets: "document A is substantially CONTAINED in B" (quote
    * farms, wrapper pages, subset mirrors). Asymmetric on purpose — the
    * symmetric Jaccard dedups miss a short doc swallowed by a long one
    * (union-normalized similarity stays low), which is exactly the case
    * span-level curation cares about. Same blocked-pair posture as
    * [[jaccardPairs]]: the shingle equi-join IS the blocking (a pair with
    * zero shared shingles never forms), the stream sits under PairBudget,
    * and at 100 TB the candidate stage swaps to the banded-MinHash front
    * end (containment-calibrated: band on the SHORTER doc's signature).
    */
  val llmContainmentJoin: Q = (s, dir) => {
    import s.implicits._
    val ex = shingleRows(s, dir).cp() // sizes agg, budget histogram, a, b
    val sizes = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val ga = graft.api.PairBudget.gate(ex, Seq($"s"),
      "llm_containment_join", "llm_dedup_minhash")
    ga.as("a").join(ex.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" =!= $"b.doc_id")
      .groupBy($"a.doc_id".as("d_sub"), $"b.doc_id".as("d_super"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select($"doc_id".as("d_sub"), $"n".as("n_sub")), "d_sub")
      .withColumn("containment", pround4($"common" / $"n_sub"))
      .filter($"containment" >= 0.8)
      .select($"d_sub", $"d_super", $"common", $"n_sub", $"containment")
      .orderBy($"d_sub", $"d_super")
  }

  /** Struct battery — create / field-access / compute-through / array-of-
    * struct indexing, the nested-data surface every log-schema pipeline
    * exercises (events arrive as structs; columns are carved out of them).
    * All accesses are Catalyst `GetStructField`/`ElementAt` — codegen'd
    * column carving, NO serialization round-trip — and the parquet scan
    * still prunes to exactly the consumed leaf columns. Output is
    * flattened to scalars so the oracle hash stays engine-neutral (struct
    * CELL serialization is the one place the two engines' dump formats
    * could drift).
    */
  val fnStruct: Q = (s, dir) => {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey",
        struct($"p_brand".as("brand"), $"p_size".as("sz"),
          $"p_retailprice".as("price")).as("st"),
        array(struct(lit(1).as("k"), $"p_name".as("v")),
          struct(lit(2).as("k"), $"p_type".as("v"))).as("arr"))
      .select($"p_partkey",
        $"st.brand".as("brand"),
        ($"st.sz" + 1).cast("long").as("size_next"),
        ($"st.price" > 1500.0).as("pricey"),
        element_at($"arr", 2).getField("v").as("second_v"))
      .orderBy($"p_partkey")
  }

  /** MinHash estimator calibration — for every banded candidate pair:
    * the 8-component signature agreement (est = matches/8) NEXT TO the
    * exact verified Jaccard, plus the absolute estimation error. This is
    * the measurement a production dedup runs before trusting an LSH
    * threshold at a new scale (band/row parameters are chosen from
    * exactly this curve); it shares every artifact with
    * [[llmDedupMinhash]] — signatures, bands, candidates, verification
    * join — so the calibration costs one extra broadcast-sized join over
    * the signature table. est is an exact ÷8 rational (power of two —
    * exact in IEEE); err subtracts the raw small-rational Jaccard before
    * one final quantization, deterministic cross-engine.
    */
  val llmMinhashCalibration: Q = (s, dir) => {
    import s.implicits._
    val ex = shingleRows(s, dir).cp()
    val hashAggs = (0 to 7).map(i =>
      min(md5(concat(lit(i.toString), $"s"))).as(s"h$i"))
    val mh = ex.groupBy($"doc_id").agg(hashAggs.head, hashAggs.tail: _*).cp()
    val bands = mh.select($"doc_id", explode(array(
      struct(lit(0).as("band"), concat($"h0", $"h1").as("key")),
      struct(lit(1).as("band"), concat($"h2", $"h3").as("key")),
      struct(lit(2).as("band"), concat($"h4", $"h5").as("key")),
      struct(lit(3).as("band"), concat($"h6", $"h7").as("key")))).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("key"))
    val cands = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.key" === $"y.key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("d1"), $"y.doc_id".as("d2")).distinct()
    val sizes = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val exact = cands
      .join(ex.select($"doc_id".as("d1"), $"s".as("s1")), "d1")
      .join(ex.select($"doc_id".as("d2"), $"s".as("s1")), Seq("d2", "s1"))
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("common"))
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
      .withColumn("j", $"common" / ($"n1" + $"n2" - $"common"))
    val sigMatch = (0 to 7).map(i =>
      ($"a.h$i" === $"b.h$i").cast("long")).reduce(_ + _)
    exact
      .join(mh.as("a"), $"d1" === $"a.doc_id")
      .join(mh.as("b"), $"d2" === $"b.doc_id")
      .withColumn("n_match", sigMatch)
      .select($"d1", $"d2", $"n_match",
        pround4($"n_match" / lit(8)).as("est"),
        pround4($"j").as("jaccard"),
        pround4(abs($"n_match" / lit(8) - $"j")).as("err"))
      .orderBy($"d1", $"d2")
  }

  /** Banded-MinHash front end for the containment join — the 100 TB swap
    * [[llmContainmentJoin]]'s docstring promised, as a graded code path.
    * Candidates come from the shared 4-band × 2-row LSH self-join (a pair
    * must collide on a full band — the n_match ≥ 2 region of the
    * [[llmMinhashCalibration]] curve) instead of the full shingle
    * equi-join, so the candidate stream scales with collision count, not
    * corpus pair count; each undirected candidate is then verified
    * EXACTLY in both orientations (with one shared signature table the
    * band self-join IS the "probe the shorter doc's signature" step for
    * every sub-doc at once). The candidate gate's agreement threshold is
    * FED BY the calibration frame at runtime: t = the minimum signature
    * agreement among calibration pairs with verified J ≥ 0.35 (≈ the
    * Jaccard floor of a 0.8-containment pair at size ratio ≤ ~2.3),
    * coalesced to one-full-band (2) on an empty curve — recall-protective
    * by construction (it never exceeds an agreement level that a
    * high-J pair actually exhibited). Honest contract: a containment
    * pair whose Jaccard sits under the banding's recall floor (a short
    * doc swallowed by a MUCH longer one) can be missed — that regime
    * belongs to the exact twin; LlmSpec pins banded ≡ exact on the
    * fixture corpus.
    */
  val llmContainmentJoinBanded: Q = (s, dir) => {
    import s.implicits._
    val ex = shingleRows(s, dir).cp()
    val sizes = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val hashAggs = (0 to 7).map(i =>
      min(md5(concat(lit(i.toString), $"s"))).as(s"h$i"))
    val mh = ex.groupBy($"doc_id").agg(hashAggs.head, hashAggs.tail: _*).cp()
    val bands = mh.select($"doc_id", explode(array(
      struct(lit(0).as("band"), concat($"h0", $"h1").as("key")),
      struct(lit(1).as("band"), concat($"h2", $"h3").as("key")),
      struct(lit(2).as("band"), concat($"h4", $"h5").as("key")),
      struct(lit(3).as("band"), concat($"h6", $"h7").as("key")))).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("key"))
    val cands = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.key" === $"y.key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("d1"), $"y.doc_id".as("d2")).distinct()
    val sigMatch = (0 to 7).map(i =>
      ($"a.h$i" === $"b.h$i").cast("long")).reduce(_ + _)
    val matched = cands
      .join(mh.as("a"), $"d1" === $"a.doc_id")
      .join(mh.as("b"), $"d2" === $"b.doc_id")
      .withColumn("n_match", sigMatch)
      .select($"d1", $"d2", $"n_match")
      .cp() // feeds the exact-verify join AND the threshold agg
    val exact = matched
      .join(ex.select($"doc_id".as("d1"), $"s".as("s1")), "d1")
      .join(ex.select($"doc_id".as("d2"), $"s".as("s1")), Seq("d2", "s1"))
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("common"))
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
      .join(matched, Seq("d1", "d2"))
      .withColumn("j", $"common" / ($"n1" + $"n2" - $"common"))
      .cp() // consumed by the threshold agg and the gated emit
    val thr = exact.filter($"j" >= 0.35)
      .agg(coalesce(min($"n_match"), lit(2L)).as("thr"))
    val gated = exact.crossJoin(broadcast(thr)).filter($"n_match" >= $"thr")
    val directed = gated
      .select($"d1".as("d_sub"), $"d2".as("d_super"), $"common",
        $"n1".as("n_sub"))
      .unionAll(gated.select($"d2".as("d_sub"), $"d1".as("d_super"),
        $"common", $"n2".as("n_sub")))
    directed
      .withColumn("containment", pround4($"common" / $"n_sub"))
      .filter($"containment" >= 0.8)
      .select($"d_sub", $"d_super", $"common", $"n_sub", $"containment")
      .orderBy($"d_sub", $"d_super")
  }

  /** BPE pair statistics — the inner loop of byte-pair-encoding tokenizer
    * TRAINING, as one corpus query: every adjacent character pair inside
    * every word, counted globally, top 50 by frequency (the pair a BPE
    * trainer would merge next, and the 49 runners-up). The pair explode
    * is per-row arithmetic inside codegen; the rollup is one exact
    * BIGINT count agg; the head is TakeOrderedAndProject (per-partition
    * heaps, never a global sort).
    */
  val llmBpePairStats: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split(trim($"text"), " ")).as("w"))
      .filter(length($"w") >= 2)
      .select($"w", explode(sequence(lit(1), length($"w") - 1)).as("i"))
      .select(expr("substring(w, i, 2)").as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair").limit(50)
  }

  /** Prefix-hash dedup groups — boilerplate-header detection: documents
    * sharing an identical first-64-char prefix (site chrome, license
    * headers, templated intros) cluster under one md5; emit each
    * multi-member group with its canonical keeper (min doc_id), member
    * and distinct-full-text counts — "same opening, how many bodies".
    * One hash group-by; the prefix never shuffles as text at scale, the
    * digest is the key.
    */
  val llmPrefixDedup: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", md5(substring($"text", 1, 64)).as("ph"),
        md5($"text").as("fh"))
      .groupBy($"ph")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keeper"),
        countDistinct($"fh").as("n_distinct_bodies"))
      .filter($"n_docs" >= 2)
      .orderBy($"keeper")
  }

  /** Tokenizer fertility per language — chars consumed per
    * whitespace-token (the tokenizer-efficiency number that decides
    * training cost per byte across languages; a BPE tokenizer's fertility
    * drift per language is THE multilingual budget input). Exact integer
    * char/token/whitespace counts off one pass (n_chars is the declared
    * column, whitespace = tokens − 1 per doc), one quantized ratio.
    */
  val llmTokenFertility: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"lang", $"n_chars",
        size(split($"text", " ")).cast("long").as("n_toks"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"),
        sum($"n_toks").as("n_tokens"))
      .select($"lang", $"n_docs", $"n_chars", $"n_tokens",
        pround4($"n_chars".cast("double") / $"n_tokens".cast("double"))
          .as("chars_per_token"))
      .orderBy($"lang")
  }

  /** RAKE keyphrase extraction — the classic unsupervised keyword miner:
    * candidate phrases are maximal stopword-free token runs (the
    * gaps-and-islands trick per document: island key = pos − rank over
    * non-stop tokens), kept at 2-4 words; each word scores
    * degree/frequency over the candidate corpus (degree = Σ phrase length
    * over occurrences — co-occurrence weight); a phrase scores the sum of
    * its member word scores. Word scores are nano-quantized BIGINTs so
    * the phrase sum and the top-20 ordering are exact integers; identical
    * phrase texts across documents share one row with an occurrence
    * count (their per-occurrence scores are equal by construction —
    * integer-division recovery is exact).
    */
  val llmKeyphraseRake: Q = (s, dir) => {
    import s.implicits._
    val stops = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "that", "for", "on", "with", "as")
    val toks = Tables.documents(s, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"p")
    val phrases = toks.filter(!$"tok".isin(stops: _*))
      .withColumn("isl", $"p" - row_number().over(w))
      .groupBy($"doc_id", $"isl")
      .agg(count(lit(1)).as("len"),
        array_join(transform(array_sort(collect_list(struct($"p", $"tok"))),
          x => x.getField("tok")), " ").as("phrase"),
        collect_list($"tok").as("words"))
      .filter($"len".between(2, 4))
      .cp() // word stats and the phrase-score join both read it
    val pw = phrases.select($"doc_id", $"isl", $"phrase", $"len",
      explode($"words").as("wd"))
    val wstats = pw.groupBy($"wd")
      .agg(count(lit(1)).as("freq"), sum($"len").as("deg"))
      .select($"wd", floor($"deg".cast("double") / $"freq".cast("double") *
        lit(1.0e9) + lit(0.5)).cast("long").as("wq"))
    val occScores = pw.join(broadcast(wstats), "wd")
      .groupBy($"doc_id", $"isl", $"phrase", $"len")
      .agg(sum($"wq").as("sc"))
    occScores.groupBy($"phrase")
      .agg(max($"len").as("n_words"), count(lit(1)).as("n_occurrences"),
        max($"sc").as("scq"))
      .orderBy($"scq".desc, $"phrase")
      .limit(20)
      .select($"phrase", $"n_words", $"n_occurrences",
        ($"scq".cast("double") / lit(1.0e9)).as("score"))
  }

  /** Pairwise source VOCABULARY overlap (set Jaccard over distinct
    * tokens) — the set-membership companion to [[llmJsDivergence]]'s
    * distribution distance: two sources can share every word yet weight
    * them apart (high venn, high JSD) or barely overlap at all. The
    * (source, token) frame is Heaps-law bounded (vocabulary, not corpus);
    * the pair join keys on the token, fan-out ≤ |sources|² per token;
    * the Jaccard is one quantized divide over exact set counts.
    */
  val llmVocabVenn: Q = (s, dir) => {
    import s.implicits._
    val v = Tables.documents(s, dir)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .distinct()
      .cp() // sizes and the pair join share the vocab frame
    val sz = v.groupBy($"source").agg(count(lit(1)).as("n"))
    val common = v.as("a").join(v.as("b"),
        $"a.tok" === $"b.tok" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(broadcast(sz.select($"source".as("source_a"), $"n".as("n_a"))),
        "source_a")
      .join(broadcast(sz.select($"source".as("source_b"), $"n".as("n_b"))),
        "source_b")
      .select($"source_a", $"source_b", $"n_a", $"n_b", $"common",
        pround4($"common".cast("double") /
          ($"n_a" + $"n_b" - $"common").cast("double")).as("jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  /** Embedding L2-norm histogram per label — the normalization audit a
    * vector store runs at ingest (a cosine index assumes unit-ish norms;
    * a bimodal norm histogram means two incompatible encoders fed one
    * corpus). Each squared norm is a per-ELEMENT nano-quantized BIGINT
    * sum (the [[llmEmbedOutliers]] discipline — order-free, engine-exact),
    * bucketed by integer division into 0.01-wide norm² cells.
    */
  val llmEmbedNorms: Q = (s, dir) => {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id", $"label".cast("long").as("label"),
        posexplode($"embedding").as(Seq("pos", "v")))
      .select($"vec_id", $"label",
        floor($"v".cast("double") * $"v".cast("double") * lit(1.0e9) +
          lit(0.5)).cast("long").as("q"))
      .groupBy($"vec_id", $"label").agg(sum($"q").as("n2q"))
      .groupBy($"label", expr("n2q * 100 div 1000000000").as("norm2_bucket"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy($"label", $"norm2_bucket")
  }

  /** Stopword-ratio profile per source — the function-word density check
    * a quality pipeline runs next to [[llmQualityScore]] (real prose
    * carries a stable stopword share; keyword-stuffed or template text
    * does not). Fixed broadcast stopword list, one tokenize pass, pure
    * integer counts, one quantized ratio per source.
    */
  val llmStopwordProfile: Q = (s, dir) => {
    import s.implicits._
    val stops = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "that", "for", "on", "with", "as")
    Tables.documents(s, dir)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"tok".isin(stops: _*), 1L).otherwise(0L)).as("n_stop"))
      .select($"source", $"n_tokens", $"n_stop",
        pround4($"n_stop".cast("double") / $"n_tokens".cast("double"))
          .as("stop_ratio"))
      .orderBy($"source")
  }

  /** Suffix-frequency boilerplate detector — the FOOTER twin of
    * [[llmPrefixDedup]]'s header groups: the 20 most common 16-char
    * document suffixes (sign-offs, license tails, template chrome) with
    * doc and distinct-source counts. The 16-char suffix is the group key
    * (bounded payload, never the document); top-20 via
    * TakeOrderedAndProject.
    */
  val llmSuffixFreq: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(length($"text") >= 16)
      .select($"source",
        expr("substring(text, length(text) - 15, 16)").as("suffix"))
      .groupBy($"suffix")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"))
      .orderBy($"n_docs".desc, $"suffix")
      .limit(20)
  }

  /** IDF drift between the eval slice (source = src0) and the training
    * corpus — the top-20 terms whose rarity changed most (|Δ idf|, idf =
    * ln((N+1)/(df+1))): the vocabulary-shift audit run before trusting a
    * held-out slice as "same distribution". Document frequencies are
    * exact distinct-doc counts per slice; Δ is ONE fixed double tree
    * nano-quantized to a BIGINT (the §2.9 transcendental form), so the
    * top-20 ordering is an exact integer sort — TakeOrdered, no global
    * window.
    */
  val llmIdfDrift: Q = (s, dir) => {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", $"source" === "src0", explode(split($"text", " ")))
      .toDF("doc_id", "is_eval", "tok")
      .distinct()
      .cp() // df rollup + the two slice doc counts share it
    val nE = toks.filter($"is_eval").agg(countDistinct($"doc_id").as("ne"))
    val nT = toks.filter(!$"is_eval").agg(countDistinct($"doc_id").as("nt"))
    val df = toks.groupBy($"tok")
      .agg(sum(when($"is_eval", 1L).otherwise(0L)).as("df_eval"),
        sum(when(!$"is_eval", 1L).otherwise(0L)).as("df_train"))
      .filter($"df_eval" > 0 && $"df_train" > 0)
    df.crossJoin(broadcast(nE)).crossJoin(broadcast(nT))
      .withColumn("dq", floor((
        log(($"ne".cast("double") + lit(1.0)) /
          ($"df_eval".cast("double") + lit(1.0))) -
        log(($"nt".cast("double") + lit(1.0)) /
          ($"df_train".cast("double") + lit(1.0)))) * lit(1.0e9) + lit(0.5))
        .cast("long"))
      .orderBy(abs($"dq").desc, $"tok")
      .limit(20)
      .select($"tok", $"df_eval", $"df_train",
        ($"dq".cast("double") / lit(1.0e9)).as("idf_delta"))
  }

  /** Lexical compressibility score — distinct word-trigram types over
    * total trigrams per document, bottom-20 (the most repetitive /
    * template-like documents: a low ratio is exactly what gzip would
    * exploit, measured without a codec). The ratio is exact integer
    * basis-point division so the ranking can't drift; one tokenize pass,
    * trigram hashes (never text) as the distinct key.
    */
  val llmCompressibility: Q = (s, dir) => {
    import s.implicits._
    val tri = Tables.documents(s, dir)
      .filter(size(split($"text", " ")) >= 3)
      .select($"doc_id", split($"text", " ").as("ts"))
      .select($"doc_id", explode(sequence(lit(1), size($"ts") - 2)).as("i"),
        $"ts")
      .select($"doc_id", md5(concat_ws(" ",
        element_at($"ts", $"i"), element_at($"ts", $"i" + 1),
        element_at($"ts", $"i" + 2))).as("h"))
    tri.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        countDistinct($"h").as("n_distinct"))
      .withColumn("ratio_bp", expr("n_distinct * 10000L div n_trigrams"))
      .orderBy($"ratio_bp", $"doc_id")
      .limit(20)
      .select($"doc_id", $"n_trigrams", $"n_distinct",
        ($"ratio_bp".cast("double") / lit(10000.0)).as("distinct_ratio"))
  }

  /** Near-dup cluster SIZE histogram — the dataset-card rollup of
    * [[llmDedupCluster]]'s components ("how much of the corpus sits in
    * 2-doc pairs vs 50-doc template families"): cluster sizes from the
    * same signature-index CC labels, then one tiny size-frequency agg.
    * The histogram is the number a dedup run reports BEFORE deleting
    * anything.
    */
  val llmDupClusterSizes: Q = (s, dir) => {
    import s.implicits._
    llmDedupCluster(s, dir)
      .groupBy($"keep_id").agg(count(lit(1)).as("sz"))
      .groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
      .orderBy($"sz")
  }

  /** Per-document unigram entropy, bottom-20 — the information-content
    * template detector next to [[llmCompressibility]]'s trigram ratio
    * (low H = few distinct tokens dominating). H = ln(n) − Σc·ln(c)/n;
    * each transcendental term is nano-quantized to a BIGINT at the ROW
    * (the [[graft.ops.Relational.aggTheil]] discipline), so H_scaled =
    * n·⌊ln(n)·1e9⌉ − Σ⌊c·ln(c)·1e9⌉ is an EXACT integer; the ranking key
    * H = H_scaled/n is ONE IEEE division of those exact integers —
    * identical on both engines — and TakeOrdered picks on (H, doc_id).
    */
  val llmEntropyOutliers: Q = (s, dir) => {
    import s.implicits._
    val tf = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    tf.groupBy($"doc_id")
      .agg(sum($"c").as("n"), count(lit(1)).as("n_types"),
        sum(floor($"c".cast("double") * log($"c".cast("double")) *
          lit(1.0e9) + lit(0.5)).cast("long")).as("sq"))
      .withColumn("hs",
        floor(log($"n".cast("double")) * lit(1.0e9) + lit(0.5)).cast("long") *
          $"n" - $"sq")
      .withColumn("entropy",
        $"hs".cast("double") / ($"n".cast("double") * lit(1.0e9)))
      .orderBy($"entropy", $"doc_id")
      .limit(20)
      .select($"doc_id", $"n".as("n_tokens"), $"n_types", $"entropy")
  }

  /** Hard-negative mining for contrastive training — per document, the
    * most lexically similar document from a DIFFERENT source (similar
    * surface, different provenance: exactly the negatives that teach a
    * retriever the hard boundary). Candidates come from the shared 4×2
    * MinHash band join (collision-scaled, the [[llmContainmentJoinBanded]]
    * front end), verified to exact Jaccard, cross-source filtered, and
    * the per-doc argmax is ONE max-struct agg under the deterministic
    * (j, smallest-candidate) order — no window over the pair stream.
    */
  val llmHardNegatives: Q = (s, dir) => {
    import s.implicits._
    val ex = shingleRows(s, dir).cp()
    val sizes = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val hashAggs = (0 to 7).map(i =>
      min(md5(concat(lit(i.toString), $"s"))).as(s"h$i"))
    val mh = ex.groupBy($"doc_id").agg(hashAggs.head, hashAggs.tail: _*)
    val bands = mh.select($"doc_id", explode(array(
      struct(lit(0).as("band"), concat($"h0", $"h1").as("key")),
      struct(lit(1).as("band"), concat($"h2", $"h3").as("key")),
      struct(lit(2).as("band"), concat($"h4", $"h5").as("key")),
      struct(lit(3).as("band"), concat($"h6", $"h7").as("key")))).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("key"))
    val cands = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.key" === $"y.key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("d1"), $"y.doc_id".as("d2")).distinct()
    val exact = cands
      .join(ex.select($"doc_id".as("d1"), $"s".as("s1")), "d1")
      .join(ex.select($"doc_id".as("d2"), $"s".as("s1")), Seq("d2", "s1"))
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("common"))
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
      .withColumn("j", $"common" / ($"n1" + $"n2" - $"common"))
    val both = exact.select($"d1".as("doc_id"), $"d2".as("cand"), $"j")
      .unionAll(exact.select($"d2".as("doc_id"), $"d1".as("cand"), $"j"))
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    both
      .join(src, "doc_id")
      .join(src.select($"doc_id".as("cand"), $"source".as("cand_source")),
        "cand")
      .filter($"source" =!= $"cand_source")
      .groupBy($"doc_id")
      .agg(max(struct($"j", (-$"cand").as("nc"))).as("m"),
        count(lit(1)).as("n_cands"))
      .select($"doc_id", (-$"m.nc").as("hard_neg"), pround4($"m.j").as("jaccard"),
        $"n_cands")
      .orderBy($"doc_id")
  }

  /** Deterministic curriculum ordering — the schedule an easy-to-hard
    * training run feeds from: difficulty = integer average word length
    * (`n_chars·100 DIV n_tokens` — a pure-integer proxy; swap in any
    * scorer), total order (difficulty, n_tokens, doc_id), global rank via
    * [[graft.api.DistScan.withGlobalRank]] (range-partitioned — the
    * full-corpus ordering at 100 TB is a range shuffle, exactly what the
    * training-shard writer wants), first 200 positions emitted as the
    * auditable schedule head.
    */
  val llmCurriculumOrder: Q = (s, dir) => {
    import s.implicits._
    val per = Tables.documents(s, dir)
      .select($"doc_id", $"n_chars",
        size(split(trim($"text"), " ")).cast("long").as("n_tok"))
      .withColumn("difficulty", expr("(n_chars * 100) DIV n_tok"))
    graft.api.DistScan
      .withGlobalRank(per, "position", $"difficulty", $"n_tok", $"doc_id")
      .filter($"position" <= 200)
      .select($"position", $"doc_id", $"difficulty", $"n_tok")
      .orderBy($"position")
  }

  /** Deterministic human-review sample — 2 documents per source chosen by
    * salted md5 rank (the audit queue a curation process mints every run,
    * IDENTICAL every run: review diffs stay meaningful, no RNG state):
    * rank within source by (hash, doc_id), keep the first 2. The window
    * partitions by source — parallel across strata.
    */
  val llmReviewSample: Q = (s, dir) => {
    import s.implicits._
    val h = expr("md5(concat('review-v1:', cast(doc_id as string)))")
    Tables.documents(s, dir)
      .select($"source", $"doc_id", $"lang", $"n_chars", h.as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"h", $"doc_id")).cast("long"))
      .filter($"rk" <= 2)
      .select($"source", $"rk", $"doc_id", $"lang", $"n_chars")
      .orderBy($"source", $"rk")
  }

  /** Corpus n-gram entropy rates — the compressibility/predictability
    * audit (a low conditional entropy flags templated or repetitive
    * text): unigram entropy H₁, bigram entropy H₂, and the conditional
    * rate H₂−H₁ (bits per token given one token of context), all from
    * exact BIGINT counts with each −p·log₂p term nano-quantized per
    * distinct (n-)gram before its BIGINT sum (the §2.9 transcendental
    * form — accumulation order can't drift).
    */
  val llmNgramEntropy: Q = (s, dir) => {
    import s.implicits._
    def entropyBits(counts: DataFrame): DataFrame = {
      val tot = counts.agg(sum($"c").as("nt"))
      counts.crossJoin(broadcast(tot))
        .withColumn("p", $"c".cast("double") / $"nt".cast("double"))
        .withColumn("e", floor(-$"p" * log2($"p") * lit(1.0e9) + lit(0.5))
          .cast("long"))
        .agg(max($"nt").as("n"), count(lit(1)).as("types"),
          sum($"e").as("en"))
    }
    val toks = Tables.documents(s, dir)
      .select($"doc_id", split(trim($"text"), " ").as("ts"))
      .withColumn("n", size($"ts").cast("long"))
    val uni = toks.select(explode($"ts").as("g"))
      .groupBy($"g").agg(count(lit(1)).as("c"))
    val bi = toks.filter($"n" >= 2)
      .select($"ts", explode(sequence(lit(1L), $"n" - 1)).as("i"))
      .select(concat_ws(" ",
        element_at($"ts", $"i".cast("int")),
        element_at($"ts", $"i".cast("int") + 1)).as("g"))
      .groupBy($"g").agg(count(lit(1)).as("c"))
    val h1 = entropyBits(uni)
      .select($"n".as("n_tokens"), $"types".as("n_types"),
        $"en".as("e1"))
    val h2 = entropyBits(bi)
      .select($"n".as("n_bigrams"), $"types".as("n_bigram_types"),
        $"en".as("e2"))
    h1.crossJoin(h2)
      .select($"n_tokens", $"n_types", $"n_bigrams", $"n_bigram_types",
        ($"e1".cast("double") / lit(1.0e9)).as("h_unigram_bits"),
        ($"e2".cast("double") / lit(1.0e9)).as("h_bigram_bits"),
        (($"e2" - $"e1").cast("double") / lit(1.0e9)).as("h_cond_bits"))
  }

  /** Character-class profile per language — the encoding/noise audit a
    * corpus intake runs (a "lang=en" stratum that is 30% digits is a
    * scraped table dump, not prose): alpha/digit/space/other fractions
    * from exact per-class character counts, each count spelled as
    * length minus the class-stripped length (regexp_replace in the
    * POSIX-class subset where Java regex and RE2 agree). Integer counts,
    * quantized ratios.
    */
  val llmCharClassProfile: Q = (s, dir) => {
    import s.implicits._
    def cls(pat: String) =
      sum(length($"text") -
        length(regexp_replace($"text", pat, ""))).cast("long")
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length($"text")).cast("long").as("n_chars"),
        cls("[a-zA-Z]").as("n_alpha"),
        cls("[0-9]").as("n_digit"),
        cls("[ ]").as("n_space"))
      .select($"lang", $"n_docs", $"n_chars",
        pround4($"n_alpha" / $"n_chars").as("alpha_frac"),
        pround4($"n_digit" / $"n_chars").as("digit_frac"),
        pround4($"n_space" / $"n_chars").as("space_frac"),
        pround4(($"n_chars" - $"n_alpha" - $"n_digit" - $"n_space") /
          $"n_chars").as("other_frac"))
      .orderBy($"lang")
  }

  /** Out-of-vocabulary audit of the deterministic split — the tokenizer-
    * coverage question every training run asks before committing a vocab:
    * build the vocabulary from the TRAIN slice of the
    * [[llmDatasetSplit]] hash split (same salted coin, so the two ops
    * agree row-for-row), then measure what fraction of val+test tokens
    * fall outside it. Token membership is one left-anti-shaped join keyed
    * on the token string; counts are exact BIGINTs, the rate one
    * quantized ratio per split.
    */
  val llmOovRate: Q = (s, dir) => {
    import s.implicits._
    val coin = expr(
      "cast(conv(substring(md5(concat('split-v1:'," +
        " cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 100")
    val tok = Tables.documents(s, dir)
      .withColumn("split",
        when(coin < 80, "train").when(coin < 90, "val").otherwise("test"))
      .select($"split", explode(split(trim($"text"), " ")).as("t"))
      .cp() // vocabulary and eval sides share the tokenize pass
    val vocab = tok.filter($"split" === "train").select($"t").distinct()
    tok.filter($"split" =!= "train")
      .join(vocab.withColumn("known", lit(1L)), Seq("t"), "left")
      .groupBy($"split")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"known".isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        floor($"n_oov".cast("double") / $"n_tokens".cast("double") *
          lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0))
      .orderBy($"split")
  }

  /** Label-balance audit with per-source language entropy — the class-
    * imbalance readout a curation run reports per stratum: doc counts per
    * (source, lang) cell plus each source's language-distribution entropy
    * in bits (0 = monolingual, log₂k = uniform over k). The per-cell
    * −p·log₂p term is the §2.9-sanctioned quantized transcendental
    * (floor(f·1e9+½) on the exact count ratio), BIGINT-summed per source.
    */
  val llmLabelBalance: Q = (s, dir) => {
    import s.implicits._
    val cells = Tables.documents(s, dir)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
    val tot = cells.groupBy($"source").agg(sum($"n").as("nt"))
    cells.join(broadcast(tot), "source")
      .withColumn("p", $"n".cast("double") / $"nt".cast("double"))
      .withColumn("e", floor(-$"p" * log2($"p") * lit(1.0e9) + lit(0.5))
        .cast("long"))
      .groupBy($"source")
      .agg(max($"nt").as("n_docs"), count(lit(1)).as("n_langs"),
        sum($"e").as("en"))
      .select($"source", $"n_docs", $"n_langs",
        ($"en".cast("double") / lit(1.0e9)).as("lang_entropy_bits"))
      .orderBy($"source")
  }

  /** Deterministic train/val/test split assignment — the one decision a
    * training-data pipeline must make identically on every engine, at
    * every scale, forever: split = md5-coin of the SALTED doc id (salt
    * pins the split generation; re-salting is an explicit new split, not
    * an accident), 80/10/10 by hash mod 100. Emits the per-split audit
    * row (docs, exact token total, quantized mean length) a datasheet
    * reports; the assignment itself is a pure per-row expression any
    * downstream op can inline.
    */
  val llmDatasetSplit: Q = (s, dir) => {
    import s.implicits._
    val coin = expr(
      "cast(conv(substring(md5(concat('split-v1:'," +
        " cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 100")
    val tok = Tables.documents(s, dir)
      .select($"doc_id", size(split(trim($"text"), " ")).cast("long")
        .as("n_tok"))
      .withColumn("split",
        when(coin < 80, "train").when(coin < 90, "val").otherwise("test"))
    tok.groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .withColumn("mean_tokens", pround4($"n_tokens" / $"n_docs"))
      .orderBy($"split")
  }

  /** T5-style span-corruption SCHEDULE, RNG-free: a 3-token mask span
    * starts at 1-based position i iff the 16-bit md5 slice of (doc_id, i)
    * ≡ 0 mod 8 and the span fits — an exact 1-in-8 position sample,
    * reproducible on any engine (the graph_triangle_sample hash-coin
    * convention). Spans MAY overlap; this op emits the sampling artifact
    * (start, len, span text) that a masking executor dedups at apply
    * time — the schedule is what must be deterministic and auditable.
    * Per-row array arithmetic + one hash predicate: embarrassingly
    * parallel, zero shuffles before the output sort.
    */
  val llmSpanCorruption: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", split(trim($"text"), " ").as("ts"))
      .withColumn("n", size($"ts").cast("long"))
      .filter($"n" >= 3)
      .select($"doc_id", $"ts",
        explode(sequence(lit(1L), $"n" - 2)).as("i"))
      .filter(expr(
        "cast(conv(substring(md5(concat(cast(doc_id as string), ':'," +
          " cast(i as string))), 1, 4), 16, 10) as bigint) % 8 = 0"))
      .select($"doc_id", $"i".as("start"), lit(3L).as("len"),
        concat_ws(" ", slice($"ts", $"i".cast("int"), lit(3))).as("span"))
      .orderBy($"doc_id", $"start")
  }

  /** Type-token-ratio curve by document length bucket (width 50 tokens) —
    * the lexical-diversity readout a corpus audit plots against length
    * (TTR falls with length; a bucket off the curve flags templated or
    * keyword-stuffed strata). Types are counted WITHIN each document
    * (distinct tokens per doc — the per-doc explode+agg), then bucket
    * ratios aggregate exact BIGINTs; one quantized ratio per bucket.
    */
  val llmTtrCurve: Q = (s, dir) => {
    import s.implicits._
    val per = Tables.documents(s, dir)
      .select($"doc_id", explode(split(trim($"text"), " ")).as("t"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"), countDistinct($"t").as("n_typ"))
    per.groupBy(expr("(n_tok - 1) DIV 50").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("tokens"),
        sum($"n_typ").as("types"))
      .withColumn("ttr", pround4($"types" / $"tokens"))
      .orderBy($"bucket")
  }

  /** Chunk-hash dedup with keep-first semantics (the CCNet move, at chunk
    * granularity): documents split into DISJOINT 20-token chunks, each
    * chunk hashed, and a chunk survives only in the document that MINTED
    * its hash (min doc_id) — the cutting half of exact-substring dedup
    * ([[llmDupNgramSpans]] is the overlapping-window detection half;
    * [[llmNgramNovelty]] is the same accounting as a marginal-value
    * curve). Per doc: chunk/token totals, kept counts, kept ratio — the
    * numbers a curation run reports as its dedup yield. Chunking is
    * per-row integer arithmetic (explode over sequence, no array
    * shuffle); the hash table is one min() agg; the keep join rides the
    * hash-agg partitioning. At 100 TB the md5 carries the whole op —
    * chunks never shuffle as text (the hash is the key), and the min
    * fold's partial agg combines map-side.
    */
  val llmDedupParagraph: Q = (s, dir) => {
    import s.implicits._
    val k = 20
    val chunks = Tables.documents(s, dir)
      .select($"doc_id", split(trim($"text"), " ").as("toks"))
      .withColumn("n", size($"toks").cast("long"))
      .filter($"n" >= 1)
      .select($"doc_id", $"toks", $"n",
        explode(sequence(lit(0L), floor(($"n" - 1) / k).cast("long")))
          .as("ci"))
      .select($"doc_id",
        md5(concat_ws(" ",
          slice($"toks", ($"ci" * k + 1).cast("int"), lit(k)))).as("h"),
        least(lit(k.toLong), $"n" - $"ci" * k).as("ctoks"))
      .cp() // feeds the mint-table agg AND the keep join
    val minted = chunks.groupBy($"h").agg(min($"doc_id").as("fd"))
    chunks.join(minted, Seq("h"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(when($"doc_id" === $"fd", 1)).as("kept_chunks"),
        sum(when($"doc_id" === $"fd", $"ctoks")).as("kept_tokens"),
        sum($"ctoks").as("total_tokens"))
      .withColumn("kept_ratio", pround4($"kept_chunks" / $"n_chunks"))
      .orderBy($"doc_id")
  }

  /** Deterministic train/val/test split — the hash-bucket assignment every
    * dataset release ships (stable across runs, machines, and engine
    * versions; NEVER a random() split, which is unreproducible and
    * leaks across reshuffles): first hex nibble of md5(doc_id) buckets
    * 13/2/1 into train/val/test (~81/12/6%). Reported per source so
    * stratification skew is visible — a source whose hash slice deviates
    * far from 13:2:1 is the flag to widen the bucket key. Pure per-row
    * arithmetic + one agg; the assignment column is the thing a real
    * pipeline writes back, the rollup is the auditable summary.
    */
  val llmTrainValSplit: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("h1", substring(md5($"doc_id".cast("string")), 1, 1))
      .withColumn("split",
        when($"h1" < "d", "train").when($"h1" < "f", "val")
          .otherwise("test"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
      .orderBy($"source", $"split")
  }

  /** Bigram-LM (add-one smoothed) per-document surprise — one conditioning
    * order deeper than [[llmUnigramLogprob]]: p(w₂|w₁) = (c(w₁w₂)+1) /
    * (c(w₁)+V), the simplest model that penalizes IMPLAUSIBLE SEQUENCES
    * instead of just rare words (word-salad scores high here while
    * sailing through the unigram gate). Surprise −ln p is nano-quantized
    * per DISTINCT bigram (vocab² values at most — a broadcast-sized
    * table), per-doc sums fold as exact BIGINTs. The doc-bigram stream
    * joins the scored table BROADCAST (Heaps-law bigram vocab ≪ corpus);
    * one doc-keyed agg carries the rollup.
    */
  val llmBigramLogprob: Q = (s, dir) => {
    import s.implicits._
    val bi = Tables.documents(s, dir)
      .filter(size(split(trim($"text"), " ")) >= 2)
      .select($"doc_id", split(trim($"text"), " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(1), size($"toks") - 1)).as("i"))
      .select($"doc_id",
        element_at($"toks", $"i").as("w1"),
        element_at($"toks", $"i" + 1).as("w2"))
      .cp() // counts AND the per-doc scoring join share the tokenize pass
    val cBi = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val cUni = bi.groupBy($"w1").agg(count(lit(1)).as("cu"))
    val vocab = bi.select($"w2").union(bi.select($"w1".as("w2")))
      .distinct().agg(count(lit(1)).as("v"))
    val scored = cBi.join(cUni, "w1").crossJoin(broadcast(vocab))
      .withColumn("sc", floor(-log(($"cb" + 1) / ($"cu" + $"v")) * 1.0e9 +
        0.5).cast("long"))
      .select($"w1", $"w2", $"sc")
    bi.join(broadcast(scored), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum($"sc") / (count(lit(1)) * 1.0e9), 4).as("avg_surprise"))
      .orderBy($"doc_id")
  }

  /** Corpus bigram entropy rate — H = −Σ p(w₁w₂)·ln p(w₂|w₁) in nats, the
    * one-number compressibility/repetitiveness fingerprint (templated or
    * looping corpora sit far below natural text; the corpus-level sibling
    * of [[llmBigramLogprob]]'s per-doc score). MLE conditionals from the
    * same exact counts; each DISTINCT bigram's surprise is nano-quantized
    * (§2.9) and folded as Σ c·s in exact BIGINT — reduction-order-proof —
    * with ONE division at the end. No perplexity column on purpose: exp()
    * of a derived value would put a transcendental AFTER the quantization,
    * which the cross-libm guard bans.
    */
  val llmEntropyRate: Q = (s, dir) => {
    import s.implicits._
    val bi = Tables.documents(s, dir)
      .filter(size(split(trim($"text"), " ")) >= 2)
      .select($"doc_id", split(trim($"text"), " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(1), size($"toks") - 1)).as("i"))
      .select(element_at($"toks", $"i").as("w1"),
        element_at($"toks", $"i" + 1).as("w2"))
      .cp() // bigram counts AND unigram-history counts share the pass
    val cBi = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val cUni = bi.groupBy($"w1").agg(count(lit(1)).as("cu"))
    cBi.join(cUni, "w1")
      .withColumn("s", floor(-log($"cb" / $"cu") * 1.0e9 + 0.5).cast("long"))
      .agg(sum($"cb").as("n_bigrams"),
        count(lit(1)).as("n_bigram_types"),
        round(sum($"cb" * $"s") / (sum($"cb") * 1.0e9), 4)
          .as("entropy_rate_nats"))
  }

  /** Per-source document cap — the "no single crawl dominates the mix"
    * guard every corpus assembly applies before sampling weights. Keeps
    * the top-K documents per source by (length desc, doc_id): one
    * source-partitioned window, and at 100 TB the rank-K cutoff makes
    * this a two-phase top-K (partial per-partition head, then the final
    * per-source window over ≤ K·partitions survivors via AQE).
    */
  val llmSourceCap: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"source")
      .orderBy($"n_chars".desc, $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 10)
      .orderBy($"source", $"rk")
  }

  /** Hapax-legomena profile per language — the vocabulary-tail health
    * check (a corpus whose hapax share collapses is template spam; one
    * whose share explodes is OCR noise). Pure integer counting: corpus
    * term frequencies, then one 5-group rollup; the ratio is the only
    * double and it is floor-quantized.
    */
  val llmHapaxRatio: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_types"),
        sum(when($"cnt" === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select($"lang", $"n_types", $"n_hapax",
        (floor($"n_hapax".cast("double") / $"n_types".cast("double") *
          lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0))
          .as("hapax_ratio"))
      .orderBy($"lang")
  }

  /** Heaps-law vocabulary growth curve: stream the corpus in doc_id order,
    * split into 10 equal-width doc_id buckets, and report tokens seen vs
    * NEW types first encountered per bucket. First-occurrence accounting
    * is one `min(doc_id)` per term (the llm_ngram_novelty move) — no
    * cumulative-distinct scan, so the heavy lifting is two hash aggs that
    * partial-combine map-side; the 10-row cumulative windows are driver-
    * trivial at any scale. All columns are exact BIGINTs.
    */
  val llmVocabGrowth: Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val lim = Tables.documents(s, dir)
      .agg((max($"doc_id") + 1).as("lim"))
    val newTypes = tok.groupBy($"tok").agg(min($"doc_id").as("fd"))
      .crossJoin(broadcast(lim))
      .groupBy(($"fd" * 10 / $"lim").cast("long").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val toks = tok.crossJoin(broadcast(lim))
      .groupBy(($"doc_id" * 10 / $"lim").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce($"new_types", lit(0L)))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .withColumn("cum_types", sum($"new_types").over(w))
      .select($"bucket", $"n_tokens", $"cum_tokens", $"new_types", $"cum_types")
      .orderBy($"bucket")
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — the domain-shift matrix a mixture designer reads
    * before setting sampling weights. Blocked like every pair op: the
    * 190 source pairs broadcast against per-source term counts, terms
    * meet in a (pair, term) full outer join. Each term's JSD contribution
    * is one deterministic double tree ending in a single quantized `ln`
    * (the tfidf margin argument), so the per-pair sum is an exact BIGINT
    * fold — order-independent, bit-identical cross-engine.
    */
  val llmJsDivergence: Q = (s, dir) => {
    import s.implicits._
    val cnt = Tables.documents(s, dir)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("cnt"))
      .cp() // consumed by both sides of the pair join
    val tot = cnt.groupBy($"source").agg(sum($"cnt").as("tot"))
    val pairs = tot.as("a").crossJoin(tot.as("b"))
      .filter($"a.source" < $"b.source")
      .select($"a.source".as("sa"), $"a.tot".as("ta"),
        $"b.source".as("sb"), $"b.tot".as("tb"))
    val ca = cnt.join(broadcast(pairs), $"source" === $"sa")
      .select($"sa", $"sb", $"ta", $"tb", $"tok", $"cnt".as("cnta"))
    val cb = cnt.join(broadcast(pairs), $"source" === $"sb")
      .select($"sa".as("sa2"), $"sb".as("sb2"), $"tok".as("tok2"),
        $"cnt".as("cntb"))
    ca.join(cb,
        $"sa" === $"sa2" && $"sb" === $"sb2" && $"tok" === $"tok2",
        "full_outer")
      .select(coalesce($"sa", $"sa2").as("src_a"),
        coalesce($"sb", $"sb2").as("src_b"),
        $"ta", $"tb", $"cnta", $"cntb")
      .join(broadcast(pairs.select($"sa".as("src_a"), $"sb".as("src_b"),
        $"ta".as("tja"), $"tb".as("tjb"))), Seq("src_a", "src_b"))
      .withColumn("p", coalesce($"cnta", lit(0L)).cast("double") /
        $"tja".cast("double"))
      .withColumn("q", coalesce($"cntb", lit(0L)).cast("double") /
        $"tjb".cast("double"))
      .withColumn("m", ($"p" + $"q") / lit(2.0))
      .withColumn("t",
        when($"p" > 0, $"p" * log($"p" / $"m")).otherwise(lit(0.0)) +
          when($"q" > 0, $"q" * log($"q" / $"m")).otherwise(lit(0.0)))
      .withColumn("qt", floor($"t" * lit(0.5) * lit(1.0e9) + lit(0.5))
        .cast("long"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_terms"),
        (sum($"qt").cast("double") / lit(1.0e9)).as("jsd"))
      .orderBy($"src_a", $"src_b")
  }

  /** Robust length-outlier flags per source: exact lower-median and
    * median-absolute-deviation over n_chars (both via the 2·rank vs n+1
    * integer crossing — no float percentile), flagging docs with
    * deviation > 1.5×MAD. The comparison stays in integers
    * (`2·dev > 3·mad`), so the flag set is bit-stable on both engines.
    * Two source-partitioned windows, one broadcast-back of the 20-row
    * (med, mad) table.
    */
  val llmMadOutliers: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"source", $"n_chars").cp()
    def lowerMedian(df: DataFrame, col: String, out: String): DataFrame = {
      val w = Window.partitionBy($"source").orderBy(expr(col), $"doc_id")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"source")))
        .filter($"rn" === (($"n" + 1) / 2).cast("long")) // lower median rank
        .select($"source", expr(col).as(out))
    }
    val med = lowerMedian(docs, "n_chars", "med")
    val dev = docs.join(broadcast(med), "source")
      .withColumn("dev", abs($"n_chars" - $"med"))
    val mad = lowerMedian(dev.select($"source", $"doc_id", $"dev"), "dev", "mad")
    dev.join(broadcast(mad), "source")
      .filter($"dev" * 2 > $"mad" * 3)
      .select($"doc_id", $"source", $"n_chars", $"med", $"mad")
      .orderBy($"doc_id")
  }

  /** Embedding-space outliers: the 5 vectors farthest from their label's
    * centroid — the mislabeled/poisoned-example screen run before a
    * similarity index is trusted. Engine-portable by construction: the
    * centroid is an exact scaled-BIGINT mean (float·1e4 is always exact —
    * 38 < 53 mantissa bits — and (2k+1)/20000 is never a float, so the
    * half-round never fires), each squared-deviation term is one double
    * tree nano-quantized per position, and the per-vector distance is the
    * exact BIGINT sum of those terms. Top-5 per label is a label-
    * partitioned window over ≤ |vectors| rows.
    */
  val llmEmbedOutliers: Q = (s, dir) => {
    import s.implicits._
    val pos = Tables.embeddings(s, dir)
      .select($"vec_id", $"label".cast("long").as("label"),
        posexplode($"embedding").as(Seq("p", "v")))
      .select($"vec_id", $"label", ($"p" + 1).cast("long").as("pos"),
        $"v".cast("double").as("v"))
      .cp() // centroid pass and deviation pass share the explode
    val cent = pos.groupBy($"label", $"pos")
      .agg(sum(round($"v" * lit(10000)).cast("long")).as("cs"),
        count(lit(1)).as("n"))
      .select($"label", $"pos",
        ($"cs".cast("double") / ($"n".cast("double") * lit(10000.0))).as("c"))
    val d2 = pos.join(cent, Seq("label", "pos"))
      .withColumn("t", $"v" - $"c")
      .withColumn("q", floor($"t" * $"t" * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy($"vec_id", $"label").agg(sum($"q").as("d2q"))
    val w = Window.partitionBy($"label").orderBy($"d2q".desc, $"vec_id")
    d2.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 5)
      .select($"label", $"rk", $"vec_id",
        ($"d2q".cast("double") / lit(1.0e9)).as("dist2"))
      .orderBy($"label", $"rk")
  }

  /** Language-ID confusion matrix: the n-gram classifier's predictions
    * (llm_lang_id, reused verbatim) against the labeled lang, with
    * per-true-language recall shares — the eval every routing gate needs
    * before trusting the classifier. Pure composition: one 25-cell agg
    * over the existing scorer.
    */
  val llmLangConfusion: Q = (s, dir) => {
    import s.implicits._
    llmLangId(s, dir)
      .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
      .withColumn("rt", sum($"n").over(Window.partitionBy($"lang")))
      .select($"lang", $"lang_pred", $"n",
        (floor($"n".cast("double") / $"rt".cast("double") * lit(10000.0) +
          lit(0.5)).cast("double") / lit(10000.0)).as("recall"))
      .orderBy($"lang", $"lang_pred")
  }

  /** Deterministic BERT-style token masking schedule (~15%): a token at
    * (doc, pos) is masked iff the first two md5 hex chars of "doc_id:pos"
    * sort below '27' (39/256 ≈ 15.2%) — the llm_train_val_split hashing
    * move applied per position, so the schedule is reproducible on any
    * engine/cluster and in the oracle. Emits the per-doc mask audit
    * (counts, quantized rate, the ordered position list) — the artifact a
    * masking data-gen job is checked against.
    */
  val llmSpanMask: Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "tok")))
      .select($"doc_id", ($"p" + 1).cast("long").as("pos"))
    val marked = tok.withColumn("masked",
      substring(md5(concat($"doc_id".cast("string"), lit(":"),
        $"pos".cast("string"))), 1, 2) < "27")
    marked.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"masked", 1L).otherwise(0L)).as("n_masked"),
        array_join(expr(
          "transform(sort_array(collect_list(CASE WHEN masked THEN pos END))," +
            " x -> cast(x as string))"), ",").as("mask_positions"))
      .select($"doc_id", $"n_tokens", $"n_masked",
        (floor($"n_masked".cast("double") / $"n_tokens".cast("double") *
          lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0))
          .as("mask_rate"),
        $"mask_positions")
      .orderBy($"doc_id")
  }

  /** Out-of-vocabulary screen: each document's rarest token by corpus
    * frequency (argmin as a struct-min — the agg_ohlc picked-element
    * move, lexicographic tie on the token), plus its distinct-token
    * count. A doc whose min frequency is 1 hinges on a hapax — the
    * screen catches OCR noise and code dumps. Frequency table broadcast
    * (Heaps-law vocab ≪ corpus).
    */
  val llmMinTokenFreq: Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .cp() // frequency table and doc stream share the pass
    val freq = tok.groupBy($"tok").agg(count(lit(1)).as("f"))
    tok.distinct().join(broadcast(freq), "tok")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_distinct"),
        min(struct($"f", $"tok")).as("m"))
      .select($"doc_id", $"n_distinct", $"m.f".as("min_freq"),
        $"m.tok".as("rarest"))
      .orderBy($"doc_id")
  }

  /** Keyword-in-context (KWIC) concordance for the token 'dup': every
    * occurrence with ±3 tokens of context — the corpus-inspection view a
    * curator reads before writing a cleaning rule. Positions and slices
    * are pure integer arithmetic on the split array; both engines clamp
    * the window at document edges identically.
    */
  val llmKwic: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("ts"))
      .select($"doc_id", $"ts", posexplode($"ts").as(Seq("p", "tok")))
      .filter($"tok" === "dup")
      .select($"doc_id", ($"p" + 1).cast("long").as("pos"),
        array_join(slice($"ts", greatest(lit(1), $"p" + 1 - 3),
          ($"p" + 1 + 3) - greatest(lit(1), $"p" + 1 - 3) + 1), " ")
          .as("context"))
      .orderBy($"doc_id", $"pos")
  }

  /** Grid-blocked spatial self-join over the first two embedding
    * dimensions — the classic spatial-join shape (geohash/grid bucketing)
    * without a geo extension: points land in r-sized cells, each point
    * probes its 3×3 cell neighborhood, exact distance filters candidates
    * (lossless: any pair within r shares adjacent cells), pairs roll up
    * to a (label_a ≤ label_b) proximity matrix. Cell arithmetic and
    * distances are deterministic doubles from exact float inputs; the
    * quantized min-distance makes the rollup hash-stable. The 9× probe
    * explode replaces the quadratic cross join — the 100 TB spatial
    * posture.
    */
  val llmSpatialGrid: Q = (s, dir) => {
    import s.implicits._
    val r = 0.02
    val pts = Tables.embeddings(s, dir)
      .select($"vec_id", $"label".cast("long").as("label"),
        element_at($"embedding", 1).cast("double").as("x"),
        element_at($"embedding", 2).cast("double").as("y"))
      .withColumn("cx", floor($"x" / lit(r)).cast("long"))
      .withColumn("cy", floor($"y" / lit(r)).cast("long"))
      .cp() // probe and build sides share the scan
    val probes = pts
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select($"vec_id".as("va"), $"label".as("la"), $"x".as("xa"),
        $"y".as("ya"), ($"cx" + $"dx").as("cx"), ($"cy" + $"dy").as("cy"))
    probes.join(pts.select($"vec_id".as("vb"), $"label".as("lb"),
        $"x".as("xb"), $"y".as("yb"), $"cx", $"cy"), Seq("cx", "cy"))
      .filter($"va" < $"vb")
      .withColumn("d2", ($"xa" - $"xb") * ($"xa" - $"xb") +
        ($"ya" - $"yb") * ($"ya" - $"yb"))
      // the threshold is the LITERAL 4.0e-4, not r*r: 0.02²'s last ulp
      // differs from the decimal literal the oracle parses
      .filter($"d2" <= lit(4.0e-4))
      .withColumn("q", floor($"d2" * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy(least($"la", $"lb").as("label_a"),
        greatest($"la", $"lb").as("label_b"))
      .agg(count(lit(1)).as("n_pairs"),
        (min($"q").cast("double") / lit(1.0e9)).as("min_d2"))
      .orderBy($"label_a", $"label_b")
  }

  /** Template/boilerplate detection by token-length STRUCTURE: documents
    * sharing the md5 of their first-8 token-length sequence are the same
    * opening template even when the words differ (the shape near-dup
    * content dedup misses). Emits clusters of ≥2 with sorted membership;
    * signature hashing is engine-portable md5 over an integer-derived
    * string.
    */
  val llmTemplateDetect: Q = (s, dir) => {
    import s.implicits._
    val sig = Tables.documents(s, dir)
      .select($"doc_id", md5(concat_ws(",", expr(
        "transform(slice(split(text, ' '), 1, 8), x -> cast(length(x) as string))")))
        .as("sig"))
    sig.groupBy($"sig")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"),
        array_join(expr("transform(sort_array(collect_list(doc_id))," +
          " x -> cast(x as string))"), ",").as("members"))
      .filter($"n_docs" >= 2)
      .orderBy($"sig")
  }

  /** Binary-codec scalar battery over part names: hex, base64, sha-256,
    * md5, plus a base64 round-trip proof — the content-addressing surface
    * every artifact store needs. Spark's hex is upper-case and DuckDB's
    * lower; normalized explicitly (documented), everything else matches
    * byte-for-byte by RFC.
    */
  val fnCodec: Q = (s, dir) => {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey", $"p_name")
      .select($"p_partkey",
        lower(hex($"p_name")).as("hx"),
        base64($"p_name".cast("binary")).as("b64"),
        sha2($"p_name".cast("binary"), 256).as("sha256"),
        md5($"p_name".cast("binary")).as("md5"),
        when(decode(unbase64(base64($"p_name".cast("binary"))), "UTF-8")
          === $"p_name", 1L).otherwise(0L).as("roundtrip_ok"))
      .orderBy($"p_partkey")
  }

  /** The first BPE merge decision, verbatim: count adjacent CHARACTER
    * pairs inside corpus tokens (with full token multiplicity) and rank
    * the top-20 merge candidates — step one of training every
    * byte-pair-encoding tokenizer. Pure integer counting over a bounded
    * alphabet; one map-side-combined agg regardless of corpus size.
    */
  val llmBpeFirstMerge: Q = (s, dir) => {
    import s.implicits._
    val pairs = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") >= 2)
      .select($"tok", explode(sequence(lit(1), length($"tok") - 1)).as("i"))
      .select(expr("substring(tok, i, 2)").as("pair"))
    val w = Window.orderBy($"cnt".desc, $"pair")
    pairs.groupBy($"pair").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 20)
      .select($"rank", $"pair", $"cnt")
      .orderBy($"rank")
  }

  /** Full BPE tokenizer TRAINING loop — the iterative capability
    * [[llmBpePairStats]] (one stats pass) and [[llmBpeFirstMerge]] (one
    * decision) only sketch: 20 ranked merges, each round recounting
    * adjacent-symbol pairs on the corpus RE-SEGMENTED by every earlier
    * merge. Trainer state is the DISTINCT-word frame (word, multiplicity)
    * — Heaps-law sublinear in corpus size — so the 100 TB corpus is
    * scanned exactly ONCE (the initial word count); each merge round is
    * one map-side-combined pair agg over that small frame plus a
    * broadcast 1-row decision applied in place (no second corpus pass,
    * ever). Segmentations ride a sentinel encoding — every symbol
    * terminated by `_` (assumed outside the corpus alphabet, the classic
    * end-of-word-marker convention), symbols separated by one space, a
    * leading space — so applying a merge is ONE engine-portable
    * `replace(seg, ' l_ r_', ' lr_')`: the left-to-right non-overlapping
    * scan IS greedy BPE application, because the search consumes no
    * trailing boundary (back-to-back sites " a_ b_ a_ b_ " merge in the
    * same pass, and an l=r run " a_ a_ a_ " merges every other site —
    * exactly the greedy result, pinned by LlmSpec's JVM replay of every
    * merge). Ties: max count, then smallest (l, r). The fixed merge
    * count keeps the whole trainer a finite deterministic dataflow, so
    * the oracle is a 20-level materialized-CTE chain (the graph_louvain
    * pattern).
    */
  /** The trainer loop shared by [[llmBpeTrain]] (reads the merge table)
    * and [[llmBpeEncode]] (reads the final segmentation): returns
    * (merges(rank, l, r, n) — raw sentinel symbols, finalWords(w, seg,
    * cnt)). The original word rides along so the encoder can join the
    * final segmentation back to per-language occurrence counts.
    */
  private def bpeTrain(s: SparkSession, dir: String,
                       rounds: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    var words = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select($"w",
        concat(lit(" "), regexp_replace($"w", "(.)", "$1_ ")).as("seg"),
        $"cnt")
      .cp()
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (k <- 1 to rounds) {
      val best = words
        .select($"cnt", split(trim($"seg"), " ").as("a"))
        .filter(size($"a") >= 2)
        .select($"cnt", $"a",
          explode(sequence(lit(1), size($"a") - 1)).as("i"))
        .select(element_at($"a", $"i").as("l"),
          element_at($"a", $"i" + 1).as("r"), $"cnt")
        .groupBy($"l", $"r").agg(sum($"cnt").as("n"))
        .orderBy($"n".desc, $"l", $"r").limit(1)
        .cp()
      merges += best.select(lit(k.toLong).as("rank"), $"l", $"r", $"n")
      words = words.crossJoin(broadcast(best.select($"l", $"r")))
        .select($"w", expr("replace(seg, concat(' ', l, ' ', r), " +
          "concat(' ', replace(l, '_', ''), r))").as("seg"), $"cnt")
        .cp()
    }
    (merges.reduce(_ unionAll _), words)
  }

  val llmBpeTrain: Q = (s, dir) => {
    import s.implicits._
    bpeTrain(s, dir, rounds = 20)._1
      .select($"rank",
        translate($"l", "_", "").as("lhs"),
        translate($"r", "_", "").as("rhs"),
        concat(translate($"l", "_", ""), translate($"r", "_", ""))
          .as("merged"),
        $"n")
      .orderBy($"rank")
  }

  /** ENCODE with the trained tokenizer — [[llmBpeTrain]]'s other half:
    * the 20-merge loop's FINAL segmentation (tokens per distinct word)
    * joins back to per-language word occurrences, yielding the
    * tokenizer-efficiency report every multilingual training budget
    * reads: whitespace tokens, BPE tokens, characters, chars-per-token
    * (trained fertility — [[llmTokenFertility]] measured the whitespace
    * baseline), and tokens-per-word, per language. The corpus is scanned
    * twice in total (once by the trainer's word count, once for the
    * per-language counts); everything else is distinct-word-frame work,
    * Heaps-law sublinear at 100 TB, and the encode join is keyed on the
    * word itself.
    */
  val llmBpeEncode: Q = (s, dir) => {
    import s.implicits._
    val fin = bpeTrain(s, dir, rounds = 20)._2
      .select($"w", size(split(trim($"seg"), " ")).cast("long").as("n_bpe"))
    val langw = Tables.documents(s, dir)
      .select($"lang", explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"lang", $"w").agg(count(lit(1)).as("cnt"))
    langw.join(fin, "w")
      .groupBy($"lang")
      .agg(sum($"cnt").as("ws_tokens"),
        sum($"cnt" * $"n_bpe").as("bpe_tokens"),
        sum($"cnt" * length($"w")).as("n_chars"))
      .select($"lang", $"ws_tokens", $"bpe_tokens", $"n_chars",
        pround4($"n_chars".cast("double") / $"bpe_tokens".cast("double"))
          .as("chars_per_token"),
        pround4($"bpe_tokens".cast("double") / $"ws_tokens".cast("double"))
          .as("tokens_per_word"))
      .orderBy($"lang")
  }

  /** Temperature-based source rebalancing — the multilingual sampling
    * formula every large corpus mix uses (p_i ∝ n_i^α flattens the
    * source distribution so low-resource sources are over-sampled), at
    * α = 1/2: q_i = sqrt(n_i), a CORRECTLY-ROUNDED IEEE primitive, so
    * unlike exp/pow it is bit-identical on every libm and the whole op
    * stays oracle-checkable (nano-quantized q_i, exact integer share
    * arithmetic `target_i = (1000·q_i) div Σq`). Selection inside each
    * source is the salted-md5 coin rank ([[llmDatasetSplit]]'s
    * discipline) — reproducible on any engine/cluster, no RNG. Emits the
    * per-source audit: raw count, quantized weight, target, selected
    * count, selected char volume. One doc scan + a source-sized
    * broadcast; the rank window is per-source.
    */
  val llmSampleTemperature: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"source", $"doc_id", $"n_chars").cp() // counts + selection
    val per = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("q_sqrt",
        floor(sqrt($"n_docs".cast("double")) * lit(1.0e9) + lit(0.5))
          .cast("long"))
    val tot = per.agg(sum($"q_sqrt").as("qt"))
    val tgt = per.crossJoin(broadcast(tot))
      .withColumn("target_n", expr("(1000 * q_sqrt) div qt"))
    val w = Window.partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val sel = docs.withColumn("rn", row_number().over(w))
      .join(broadcast(tgt.select($"source", $"target_n")), "source")
      .filter($"rn" <= $"target_n")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_selected"), sum($"n_chars").as("sel_chars"))
    tgt.join(sel, Seq("source"), "left")
      .select($"source", $"n_docs", $"q_sqrt", $"target_n",
        coalesce($"n_selected", lit(0L)).as("n_selected"),
        coalesce($"sel_chars", lit(0L)).as("sel_chars"))
      .orderBy($"source")
  }

  /** The trained tokenizer's VOCABULARY — the artifact a tokenizer
    * release actually ships: the top-30 symbols of [[bpeTrain]]'s final
    * segmentation with exact corpus frequencies (strip of the sentinel
    * is injective — every raw symbol carries exactly one trailing `_`).
    * Multi-char rows are the learned merges surviving in actual use;
    * single chars are the residual alphabet. TakeOrdered head + a ≤30-row
    * residual rank window (the llm_skipgram_pairs move) — vocabulary
    * domains are Heaps-law sublinear, but the global window is still
    * avoided on principle.
    */
  val llmBpeVocab: Q = (s, dir) => {
    import s.implicits._
    val v = bpeTrain(s, dir, rounds = 20)._2
      .select(explode(split(trim($"seg"), " ")).as("sy"), $"cnt")
      .groupBy(translate($"sy", "_", "").as("token"))
      .agg(sum($"cnt").as("freq"))
      .orderBy($"freq".desc, $"token").limit(30)
    val w = Window.orderBy($"freq".desc, $"token")
    v.withColumn("rank", row_number().over(w).cast("long"))
      .select($"rank", $"token", $"freq",
        length($"token").cast("long").as("tok_len"))
      .orderBy($"rank")
  }

  /** Feature hashing (the hashing trick): tokens bucketed into a 64-dim
    * count vector per document via md5, with the ±1 sign bit drawn from
    * the hash's next nibble — the collision-tolerant featurization that
    * needs no vocabulary at any corpus size. Emits the per-doc audit
    * (nnz, exact-integer l2² under sqrt, dominant bucket with
    * deterministic tie-break) rather than the raw vector.
    */
  val llmHashEmbed: Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"))
      .withColumn("bucket", $"h" % 64)
      .withColumn("sgn", when(($"h" / lit(64)).cast("long") % 2 === 0, 1L)
        .otherwise(-1L))
    val cells = tok.groupBy($"doc_id", $"bucket")
      .agg(sum($"sgn").as("w"))
      .filter($"w" =!= 0)
    cells.groupBy($"doc_id")
      .agg(count(lit(1)).as("nnz"), sum($"w" * $"w").as("l22"),
        max(struct(abs($"w").as("a"), (-$"bucket").as("nb"))).as("m"))
      .select($"doc_id", $"nnz",
        sqrt($"l22".cast("double")).as("l2"),
        (-$"m.nb").as("top_bucket"), $"m.a".as("top_weight"))
      .orderBy($"doc_id")
  }

  /** One-row dataset card — the datasheet header every corpus release
    * ships: doc/source/lang/token/type counts, quantized mean length,
    * exact global median length, and the exact-duplicate exposure (docs
    * whose full text md5 collides with at least one other). The median is
    * value-collapsed (count per distinct n_chars — a bounded domain) and
    * found as the smallest length whose range-partitioned prefix-sum
    * ([[graft.api.DistScan]]) reaches rank (n+1) div 2 — no global
    * window. Pure composition of exact aggregates; every column is
    * integer-derived.
    */
  val llmDatasetCard: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir).cp()
    val base = docs.agg(count(lit(1)).as("n_docs"),
      countDistinct($"source").as("n_sources"),
      countDistinct($"lang").as("n_langs"))
    val tok = docs.select(explode(split($"text", " ")).as("t"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct($"t").as("n_types"))
    val lens = docs.groupBy($"n_chars").agg(count(lit(1)).as("c"))
    val med = graft.api.DistScan.withPrefixAgg(lens, "cb", $"c", "sum", $"n_chars")
      .withColumn("cum", coalesce($"cb", lit(0L)) + $"c")
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("__n"))))
      .filter($"cum" >= (($"__n" + 1) / 2).cast("long"))
      .agg(min($"n_chars").as("p50_chars"))
    val dups = docs.groupBy(md5($"text")).agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).agg(coalesce(sum($"c"), lit(0L)).as("exact_dup_docs"))
    base.crossJoin(tok).crossJoin(med).crossJoin(dups)
      .select($"n_docs", $"n_sources", $"n_langs", $"n_tokens", $"n_types",
        (floor($"n_tokens".cast("double") / $"n_docs".cast("double") *
          lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0))
          .as("mean_tokens"),
        $"p50_chars", $"exact_dup_docs")
  }

  /** Byte-range chunk manifest over opaque payloads — the artifact a
    * range-request object store serves from (resumable upload/download
    * bookkeeping): fixed 64-byte chunks with offsets, sizes and per-chunk
    * md5. Payloads are ASCII text bytes (the mm family convention), so
    * the DuckDB oracle replays the slicing with substr; the chunk grid is
    * a `sequence` explode — no per-row imperative loop.
    */
  val mmChunkManifest: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text", length($"text").as("len"))
      .select($"doc_id", $"text", $"len",
        explode(sequence(lit(0L), (($"len" - 1) / lit(64)).cast("long")))
          .as("ci"))
      .select($"doc_id", ($"ci" + 1).as("chunk_idx"),
        ($"ci" * 64).as("offset"),
        length(expr("substring(text, ci * 64 + 1, 64)")).cast("long")
          .as("size"),
        md5(expr("substring(text, ci * 64 + 1, 64)")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Content-addressed payload dedup summary — what a binary store saves
    * by keeping one copy per digest: unique payload count, duplicated
    * payload exposure, and the exact byte savings Σ len·(copies−1).
    * All integers off one md5 group-by.
    */
  val mmPayloadDedup: Q = (s, dir) => {
    import s.implicits._
    val g = Tables.documents(s, dir)
      .select(md5($"text").as("h"), length($"text").cast("long").as("len"))
      .groupBy($"h").agg(count(lit(1)).as("c"), max($"len").as("len"))
    g.agg(sum($"c").as("n_payloads"), count(lit(1)).as("n_unique"),
        coalesce(sum(when($"c" >= 2, $"c")), lit(0L)).as("n_dup_payloads"),
        sum($"len" * $"c").as("bytes_total"),
        coalesce(sum(($"c" - 1) * $"len"), lit(0L)).as("bytes_saved"))
  }

  /** Deterministic preference-pair assembly (the RLHF data-prep step):
    * within each source, documents rank by (length desc, doc_id) and each
    * adjacent pair becomes (chosen = longer, rejected = shorter) — the
    * reproducible pairing schedule a preference dataset builder runs
    * before human labels exist. One source-partitioned window, lead()
    * pairing, no joins.
    */
  val llmPrefPairs: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")
    Tables.documents(s, dir)
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("rej_doc", lead($"doc_id", 1).over(w))
      .withColumn("rej_chars", lead($"n_chars", 1).over(w))
      .filter($"rej_doc".isNotNull)
      .select($"source", $"rk".as("pair_idx"), $"doc_id".as("chosen_doc"),
        $"rej_doc".as("rejected_doc"),
        ($"n_chars" - $"rej_chars").as("len_gap"))
      .orderBy($"source", $"pair_idx")
  }

  /** Skip-gram co-occurrence counts (window ±2, distance-weighted) — the
    * word2vec/GloVe training-pair extraction step, one up from adjacent-
    * bigram collocations. Weights stay integral by counting HALF-UNITS
    * (distance 1 → 2, distance 2 → 1), so the rollup is an exact BIGINT
    * fold; the position self-join is banded by construction (j−i ∈
    * {1,2} — fan-out ≤ 2 per token, never a quadratic pair join).
    * Top-30 pairs with deterministic tie-break: distinct (w1, w2) pair
    * types grow with the corpus, so the pick is `orderBy().limit(30)` —
    * Spark plans TakeOrderedAndProject (per-partition heaps, no
    * single-partition sort); the residual rank window runs over the
    * already-selected ≤ 30 rows, bounded by the fixed k.
    */
  val llmSkipgramPairs: Q = (s, dir) => {
    import s.implicits._
    val pos = Tables.documents(s, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "tok")))
      .select($"doc_id", $"p".cast("long").as("p"), $"tok")
      .cp() // both sides of the banded self-join share the tokenize pass
    val pairs = pos.as("a")
      .join(pos.as("b"),
        $"a.doc_id" === $"b.doc_id" &&
          ($"b.p" - $"a.p" === 1 || $"b.p" - $"a.p" === 2))
      .select($"a.tok".as("w1"), $"b.tok".as("w2"),
        when($"b.p" - $"a.p" === 1, 2L).otherwise(1L).as("wt"))
    val top = pairs.groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("n"), sum($"wt").as("wt_sum"))
      .orderBy($"wt_sum".desc, $"w1", $"w2")
      .limit(30)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy($"wt_sum".desc, $"w1", $"w2")).cast("long"))
      .select($"rank", $"w1", $"w2", $"n",
        ($"wt_sum".cast("double") / lit(2.0)).as("weight"))
      .orderBy($"rank")
  }

  /** Eval-coverage probe: what fraction of the eval slice's (source =
    * src0) DISTINCT 3-grams the training corpus already contains — the
    * aggregate cousin of llm_decontaminate (that op finds the documents;
    * this one scores the overlap pressure). Distinct-shingle left join,
    * exact counts, one quantized share.
    */
  val llmNgramCoverage: Q = (s, dir) => {
    import s.implicits._
    val tri = Tables.documents(s, dir)
      .filter(size(split($"text", " ")) >= 3)
      .select($"source", split($"text", " ").as("ts"))
      .select($"source", explode(sequence(lit(1), size($"ts") - 2)).as("i"),
        $"ts")
      .select($"source", concat_ws(" ",
        element_at($"ts", $"i"), element_at($"ts", $"i" + 1),
        element_at($"ts", $"i" + 2)).as("g"))
      .cp() // eval and train slices share the shingle pass
    val ev = tri.filter($"source" === "src0").select($"g").distinct()
    val tr = tri.filter($"source" =!= "src0").select($"g".as("tg")).distinct()
    ev.join(tr, $"g" === $"tg", "left")
      .agg(count(lit(1)).as("n_eval_ngrams"),
        sum(when($"tg".isNotNull, 1L).otherwise(0L)).as("n_covered"))
      .select($"n_eval_ngrams", $"n_covered",
        (floor($"n_covered".cast("double") / $"n_eval_ngrams".cast("double") *
          lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0))
          .as("coverage"))
  }

  /** Content-defined chunking (the FastCDC/rsync idea at token
    * granularity): a chunk boundary falls AFTER any token whose md5 head
    * nibble is 0 or 1 (expected chunk ≈ 8 tokens), so boundaries depend
    * only on LOCAL content and survive upstream insertions — the
    * property fixed-width chunking lacks and dedup-friendly pipelines
    * need. chunk id = 1 + exclusive prefix count of boundaries over the
    * per-doc frame (bounded by doc length); per-doc stats are exact.
    */
  val llmChunkCdc: Q = (s, dir) => {
    import s.implicits._
    val pos = Tables.documents(s, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "tok")))
      .select($"doc_id", $"p".cast("long").as("p"),
        when(substring(md5($"tok"), 1, 1).isin("0", "1"), 1L)
          .otherwise(0L).as("b"))
    val w = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = pos
      .withColumn("chunk", lit(1L) + coalesce(sum($"b").over(w), lit(0L)))
      .groupBy($"doc_id", $"chunk").agg(count(lit(1)).as("sz"))
    chunks.groupBy($"doc_id")
      .agg(sum($"sz").as("n_tokens"), count(lit(1)).as("n_chunks"),
        max($"sz").as("max_chunk"))
      .select($"doc_id", $"n_tokens", $"n_chunks", $"max_chunk",
        pround4($"n_tokens".cast("double") / $"n_chunks".cast("double"))
          .as("mean_chunk"))
      .orderBy($"doc_id")
  }

  /** Per-dimension embedding health table — the feature-store audit
    * (dead dims, variance collapse, range drift) run before any ANN
    * index is trusted. One posexplode pass; per-dim mean and variance
    * from exact scaled-BIGINT power sums (q = round(v·1e4):
    * var = (n·Σq² − (Σq)²)/(n²·1e8) — order-independent), min/max as
    * exact q/1e4 ratios. 64 output rows; every emitted double is ONE
    * division of exact integers.
    */
  val llmEmbedDimStats: Q = (s, dir) => {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select(posexplode($"embedding").as(Seq("p", "v")))
      .select(($"p" + 1).cast("long").as("pos"),
        round($"v".cast("double") * lit(10000)).cast("long").as("q"))
      .groupBy($"pos")
      .agg(count(lit(1)).as("n"), sum($"q").as("sq"),
        sum($"q" * $"q").as("sqq"), min($"q").as("qmin"),
        max($"q").as("qmax"))
      .select($"pos", $"n",
        ($"sq".cast("double") / ($"n".cast("double") * lit(10000.0)))
          .as("mean"),
        (($"n" * $"sqq" - $"sq" * $"sq").cast("double") /
          ($"n".cast("double") * $"n".cast("double") * lit(1.0e8)))
          .as("variance"),
        ($"qmin".cast("double") / lit(10000.0)).as("vmin"),
        ($"qmax".cast("double") / lit(10000.0)).as("vmax"))
      .orderBy($"pos")
  }

  /** Per-dimension affine int8 quantization audit — the embedding-
    * compression readout (PQ/int8 serving cuts vector storage 4×; this
    * measures what it costs): codes c = ⌊(q−qmin)·255/d + ½⌋ via EXACT
    * integer rounding ((2·255·(q−qmin) + d) div 2d), reconstruction
    * error |255·(q−qmin) − c·d| kept as an exact BIGINT numerator and
    * divided once per dim for max/mean — no float enters until the
    * final division. Constant-range dims (d=0) quantize losslessly.
    */
  val llmEmbedQuantize: Q = (s, dir) => {
    import s.implicits._
    val q = Tables.embeddings(s, dir)
      .select(posexplode($"embedding").as(Seq("p", "v")))
      .select(($"p" + 1).cast("long").as("pos"),
        round($"v".cast("double") * lit(10000)).cast("long").as("q"))
      .cp() // min/max pass and error pass share the explode
    val mm = q.groupBy($"pos")
      .agg(min($"q").as("qmin"), max($"q").as("qmax"))
      .select($"pos", $"qmin", ($"qmax" - $"qmin").as("d"))
    q.join(broadcast(mm), "pos")
      .withColumn("c", when($"d" > 0,
        expr("(2 * 255 * (q - qmin) + d) div (2 * d)")).otherwise(0L))
      .withColumn("errnum", when($"d" > 0,
        abs(lit(255) * ($"q" - $"qmin") - $"c" * $"d")).otherwise(0L))
      .groupBy($"pos")
      .agg(count(lit(1)).as("n"), max($"d").as("d"),
        max($"errnum").as("maxnum"), sum($"errnum").as("sumnum"))
      .select($"pos",
        ($"d".cast("double") / lit(10000.0)).as("range"),
        ($"maxnum".cast("double") / lit(255.0 * 10000.0)).as("max_err"),
        ($"sumnum".cast("double") /
          ($"n".cast("double") * lit(255.0 * 10000.0))).as("mean_err"))
      .orderBy($"pos")
  }

  /** SemDeDup (semantic dedup via embedding clusters): vectors bucket by
    * the sign pattern of dims 1–4 (16 axis-LSH cells — deterministic,
    * engine-portable), near-dup pairs are within-bucket cosine ≥ 0.3
    * (the [[llmDedupEmbed]] float-portability discipline), and each pair
    * drops the member CLOSER to its bucket centroid — the paper's
    * keep-the-extreme rule, with centroid distance as the exact
    * nano-quantized BIGINT of [[llmEmbedOutliers]]. Pair work is
    * LSH-blocked (Σ bucket² ≪ N²), the 100 TB shape. Per-bucket audit
    * rows: sizes, pair counts, drop counts.
    */
  val llmSemdedup: Q = (s, dir) => {
    import s.implicits._
    def bit(i: Int, w: Int) =
      when(element_at($"embedding", i).cast("double") > 0, w).otherwise(0)
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding",
        (bit(1, 8) + bit(2, 4) + bit(3, 2) + bit(4, 1)).cast("long")
          .as("bucket"),
        sqrt(FloatVec.floatDot($"embedding", $"embedding")).as("nrm"))
      .cp() // bucket stats, centroid pass, and both pair sides share it
    val pos = e.select($"vec_id", $"bucket",
      posexplode($"embedding").as(Seq("p", "v")))
      .select($"vec_id", $"bucket", ($"p" + 1).cast("long").as("pos"),
        $"v".cast("double").as("v"))
      .cp()
    val cent = pos.groupBy($"bucket", $"pos")
      .agg(sum(round($"v" * lit(10000)).cast("long")).as("cs"),
        count(lit(1)).as("n"))
      .select($"bucket", $"pos",
        ($"cs".cast("double") / ($"n".cast("double") * lit(10000.0)))
          .as("c"))
    val d2 = pos.join(cent, Seq("bucket", "pos"))
      .withColumn("t", $"v" - $"c")
      .withColumn("tq",
        floor($"t" * $"t" * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy($"vec_id", $"bucket").agg(sum($"tq").as("d2q"))
    val pairs = e.as("x").join(e.as("y"),
        $"x.bucket" === $"y.bucket" && $"x.vec_id" < $"y.vec_id")
      .filter(pround4(FloatVec.floatDot($"x.embedding", $"y.embedding") /
        ($"x.nrm" * $"y.nrm")) >= 0.3)
      .select($"x.bucket".as("bucket"), $"x.vec_id".as("i"),
        $"y.vec_id".as("j"))
      .join(d2.select($"vec_id".as("i"), $"d2q".as("di")), "i")
      .join(d2.select($"vec_id".as("j"), $"d2q".as("dj")), "j")
      .select($"bucket", $"i", $"j",
        when($"di" < $"dj" || ($"di" === $"dj" && $"i" > $"j"), $"i")
          .otherwise($"j").as("drop_id"))
      .cp() // pair count and drop rollup both read it
    val pstat = pairs.groupBy($"bucket")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"drop_id").as("n_dropped"))
    e.groupBy($"bucket").agg(count(lit(1)).as("n_vecs"))
      .join(pstat, Seq("bucket"), "left")
      .select($"bucket", $"n_vecs",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_dropped", lit(0L)).as("n_dropped"))
      .orderBy($"bucket")
  }

  /** Token↔source mutual-information table for the corpus's top-20
    * tokens — "which tokens are source fingerprints" (the leakage probe
    * behind source-balancing): MI(t) = Σ_s p_ts·ln(p_ts·N/(p_t·n_s))
    * with every probability a ratio of exact counts, each transcendental
    * term nano-quantized then BIGINT-summed (§2.9 discipline). The tf
    * frame is one tokenize shuffle; the top-20 cut is a broadcast
    * semi-join, so the MI rollup runs over ≤ 20·|sources| rows.
    */
  val llmTokenMi: Q = (s, dir) => {
    import s.implicits._
    val tf = Tables.documents(s, dir)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .groupBy($"tok", $"source").agg(count(lit(1)).as("c"))
      .cp() // token totals, source totals, and the MI pass share it
    val tokTot = tf.groupBy($"tok").agg(sum($"c").as("nt"))
    val srcTot = tf.groupBy($"source").agg(sum($"c").as("ns"))
    val grand = tf.agg(sum($"c").as("nn"))
    val top = tokTot.orderBy($"nt".desc, $"tok").limit(20)
    tf.join(broadcast(top), "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(grand))
      .withColumn("term", floor(
        $"c".cast("double") / $"nn".cast("double") *
          log($"c".cast("double") * $"nn".cast("double") /
            ($"nt".cast("double") * $"ns".cast("double"))) *
          lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy($"tok", $"nt").agg(sum($"term").as("miq"))
      .select($"tok", $"nt".as("n"),
        ($"miq".cast("double") / lit(1.0e9)).as("mi"))
      .orderBy($"tok")
  }

  /** Gopher-style quality rule set per source — the published
    * rule-based curation gate (length band, mean-word-length band,
    * alphabetic-token share, stop-word presence, repetition cap) as
    * named per-rule pass counts, the release readout next to
    * [[llmFilterFunnel]]'s sequential funnel (these rules are
    * INDEPENDENT — each doc is scored against all five): r_len
    * 10 ≤ n ≤ 100000; r_wordlen 3n ≤ Σlen ≤ 10n (cross-multiplied, no
    * division); r_alpha 5·n_alpha ≥ 4·n (alphabetic token instances);
    * r_stop ≥ 2 distinct of {the, of, and, to, in} (the Gopher
    * stop-word trick); r_rep max token share ≤ 20% (5·maxc ≤ n). One
    * tokenize pass, everything exact integers; docs with zero tokens
    * are absent (declared).
    */
  val llmGopherRules: Q = (s, dir) => {
    import s.implicits._
    val byTok = Tables.documents(s, dir)
      .select($"doc_id", $"source",
        explode(split(trim($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"doc_id", $"source", $"tok").agg(count(lit(1)).as("c"))
    val per = byTok.groupBy($"doc_id", $"source")
      .agg(sum($"c").as("n"), max($"c").as("maxc"),
        sum($"c" * length($"tok")).as("lensum"),
        sum(when($"tok".rlike("^[a-zA-Z]+$"), $"c").otherwise(0L))
          .as("nalpha"),
        sum(when($"tok".isin("the", "of", "and", "to", "in"), 1L)
          .otherwise(0L)).as("nstop"))
      .withColumn("r_len", $"n" >= 10 && $"n" <= 100000)
      .withColumn("r_wordlen",
        $"lensum" >= $"n" * 3 && $"lensum" <= $"n" * 10)
      .withColumn("r_alpha", $"nalpha" * 5 >= $"n" * 4)
      .withColumn("r_stop", $"nstop" >= 2)
      .withColumn("r_rep", $"maxc" * 5 <= $"n")
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    per.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        cnt($"r_len").as("p_len"), cnt($"r_wordlen").as("p_wordlen"),
        cnt($"r_alpha").as("p_alpha"), cnt($"r_stop").as("p_stop"),
        cnt($"r_rep").as("p_rep"),
        cnt($"r_len" && $"r_wordlen" && $"r_alpha" && $"r_stop" &&
          $"r_rep").as("n_pass_all"))
      .select($"source", $"n_docs", $"p_len", $"p_wordlen", $"p_alpha",
        $"p_stop", $"p_rep", $"n_pass_all",
        pround4($"n_pass_all".cast("double") / $"n_docs".cast("double"))
          .as("pass_rate"))
      .orderBy($"source")
  }

  /** Chunk-level dedup over the CDC chunking — WHY content-defined
    * boundaries matter: chunks hash by their token content
    * (order-pinned sort_array concat, md5), a chunk is duplicated when
    * its hash occurs under more than one (doc, chunk) slot, and the
    * per-source dup share is the storage-savings estimate an incremental
    * corpus snapshot actually banks. The hash (not the text) is the
    * shuffle key of the global count — the [[llmDedupExact]] discipline
    * at sub-document granularity.
    */
  val llmCdcDedup: Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", $"source",
        posexplode(split($"text", " ")).as(Seq("p", "tok")))
      .select($"doc_id", $"source", $"p".cast("long").as("p"), $"tok",
        when(substring(md5($"tok"), 1, 1).isin("0", "1"), 1L)
          .otherwise(0L).as("b"))
    val w = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = tok
      .withColumn("chunk", lit(1L) + coalesce(sum($"b").over(w), lit(0L)))
      .groupBy($"doc_id", $"source", $"chunk")
      .agg(md5(concat_ws(" ", expr(
        "transform(sort_array(collect_list(struct(p, tok))), x -> x.tok)")))
        .as("h"))
      .cp() // hash counts and the per-source rollup share it
    val dup = chunks.groupBy($"h").agg(count(lit(1)).as("nh"))
    chunks.join(dup, "h")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"nh" > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select($"source", $"n_chunks", $"n_dup_chunks",
        pround4($"n_dup_chunks".cast("double") /
          $"n_chunks".cast("double")).as("dup_rate"))
      .orderBy($"source")
  }

  /** ANN recall@5 evaluation — the serving-quality gate on the IVF
    * index: [[llmAnnIvf]]'s cluster-pruned top-5 scored against the
    * exact brute-force top-5 for the same probe. Pure composition of two
    * graded deterministic queries, so the recall itself is
    * hash-checkable — the eval a vector-serving team runs before
    * trusting nprobe. At 100 TB the exact side runs on a sampled probe
    * set; the shape (semi-join of two top-k frames) is unchanged.
    */
  val llmAnnRecall: Q = (s, dir) => {
    import s.implicits._
    val ann = llmAnnIvf(s, dir).select($"vec_id")
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", sqrt(FloatVec.floatDot($"embedding", $"embedding")))
    val probe = e.filter($"vec_id" === 42)
      .select($"embedding".as("pe"), $"nrm".as("pn"))
    val exact = e.crossJoin(broadcast(probe))
      .filter($"vec_id" =!= 42)
      .select($"vec_id", round(FloatVec.floatDot($"embedding", $"pe") /
        ($"nrm" * $"pn"), 4).as("cos"))
      .orderBy($"cos".desc, $"vec_id").limit(5)
    exact.join(ann, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(5L).as("k"), $"n_hits",
        pround4($"n_hits".cast("double") / lit(5.0)).as("recall"))
  }

  /** Filter-funnel report — how many documents survive each successive
    * curation gate (length → top-token dominance → mean word length →
    * exact dedup), the one-page readout every pipeline publishes with a
    * release. All per-doc signals come from ONE tokenize pass (exact
    * integer stats; the word-length band is the cross-multiplied
    * `3n ≤ Σlen ≤ 10n`, no division); the dedup stage keeps min doc_id
    * per md5 of the normalized text AMONG prior survivors (the funnel
    * semantics — dedup sees only what upstream passed). Stage counts
    * unpivot into 5 rows via one `stack`.
    */
  val llmFilterFunnel: Q = (s, dir) => {
    import s.implicits._
    val per = Tables.documents(s, dir)
      .select($"doc_id", $"text", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("c"), sum(length($"tok")).as("lensum"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), max($"c").as("maxc"),
        sum($"lensum").as("sumlen"))
    val flags = Tables.documents(s, dir)
      .select($"doc_id", md5(lower(trim($"text"))).as("h"))
      .join(per, "doc_id")
      .withColumn("f1", $"n_tokens" >= 10)
      .withColumn("f2", $"f1" && $"maxc" * 5 <= $"n_tokens")
      .withColumn("f3", $"f2" && $"sumlen" >= $"n_tokens" * 3 &&
        $"sumlen" <= $"n_tokens" * 10)
      .cp() // keeper rollup + the count agg both read it
    val keep = flags.filter($"f3").groupBy($"h")
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", lit(true).as("f4"))
    flags.join(keep, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("s0"),
        sum(when($"f1", 1L).otherwise(0L)).as("s1"),
        sum(when($"f2", 1L).otherwise(0L)).as("s2"),
        sum(when($"f3", 1L).otherwise(0L)).as("s3"),
        sum(when($"f4", 1L).otherwise(0L)).as("s4"))
      .select(expr("stack(5, 0L, 'all', s0, 1L, 'min_length', s1," +
        " 2L, 'token_dominance', s2, 3L, 'word_length', s3," +
        " 4L, 'exact_dedup', s4) AS (stage, gate, n_docs)"), $"s0")
      .select($"stage", $"gate", $"n_docs",
        pround4($"n_docs".cast("double") / $"s0".cast("double"))
          .as("survival"))
      .orderBy($"stage")
  }

  /** Embedding drift detector — Welch z per dimension between the
    * label<5 and label≥5 cohorts (the "did the new data move the
    * embedding space" gate before reusing an index or classifier):
    * cohort means/variances from exact scaled-BIGINT power sums (the
    * [[llmEmbedDimStats]] machinery split two ways), z one fixed guarded
    * double tree per dimension. 64 rows.
    */
  val llmEmbedDrift: Q = (s, dir) => {
    import s.implicits._
    val q = Tables.embeddings(s, dir)
      .select(($"label" < 5).as("isA"),
        posexplode($"embedding").as(Seq("p", "v")))
      .select($"isA", ($"p" + 1).cast("long").as("pos"),
        round($"v".cast("double") * lit(10000)).cast("long").as("q"))
      .groupBy($"pos")
      .agg(sum(when($"isA", 1L).otherwise(0L)).as("na"),
        sum(when($"isA", $"q").otherwise(0L)).as("sa"),
        sum(when($"isA", $"q" * $"q").otherwise(0L)).as("qa"),
        sum(when(!$"isA", 1L).otherwise(0L)).as("nb"),
        sum(when(!$"isA", $"q").otherwise(0L)).as("sb"),
        sum(when(!$"isA", $"q" * $"q").otherwise(0L)).as("qb"))
    def m(sc: Column, nc: Column) =
      sc.cast("double") / (nc.cast("double") * lit(10000.0))
    def v(nc: Column, sc: Column, qc: Column) =
      (nc * qc - sc * sc).cast("double") /
        (nc.cast("double") * nc.cast("double") * lit(1.0e8))
    q.withColumn("v2",
        v($"na", $"sa", $"qa") / $"na".cast("double") +
          v($"nb", $"sb", $"qb") / $"nb".cast("double"))
      .select($"pos",
        m($"sa", $"na").as("mean_a"), m($"sb", $"nb").as("mean_b"),
        when($"na" > 1 && $"nb" > 1 && $"v2" > 0,
          pround4((m($"sa", $"na") - m($"sb", $"nb")) / sqrt($"v2")))
          .as("drift_z"))
      .orderBy($"pos")
  }

  /** Held-out bigram cross-entropy — the eval-set language-model score
    * behind every "did the corpus change" regression: an add-1-smoothed
    * bigram LM fit on the train slice (source ≠ src0) scores the src0
    * slice. Bigrams come from the banded position self-join (fan-out 1,
    * never quadratic); each held-out TYPE's log-probability is
    * nano-quantized once and weighted by its exact count, so the
    * cross-entropy sum is an exact BIGINT fold; H and the perplexity
    * exp(H) are one guarded double tree each (pround4 absorbs the last-
    * ulp libm exp divergence the same way the cosine ops do).
    */
  val llmBigramPerplexity: Q = (s, dir) => {
    import s.implicits._
    val pos = Tables.documents(s, dir)
      .select($"source", $"doc_id",
        posexplode(split($"text", " ")).as(Seq("p", "tok")))
      .select($"source", $"doc_id", $"p".cast("long").as("p"), $"tok")
      .cp() // both sides of the banded bigram join share the tokenize
    val bg = pos.as("a").join(pos.as("b"),
      $"a.doc_id" === $"b.doc_id" && $"b.p" - $"a.p" === 1)
      .select($"a.source".as("source"), $"a.tok".as("w1"),
        $"b.tok".as("w2"))
      .cp() // train counts and held-out counts share the bigram pass
    val train = bg.filter($"source" =!= "src0")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("cb")).cp()
    val ctx = train.groupBy($"w1").agg(sum($"cb").as("cw"))
    val vocab = train.select($"w2").distinct()
      .agg(count(lit(1)).as("vv"))
    val held = bg.filter($"source" === "src0")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("nh"))
    val scored = held
      .join(train, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select($"nh",
        (coalesce($"cb", lit(0L)) + 1).as("num"),
        (coalesce($"cw", lit(0L)) + $"vv").as("den"))
      .select($"nh", ($"nh" * floor(log($"num".cast("double") /
        $"den".cast("double")) * lit(1.0e9) + lit(0.5)).cast("long"))
        .as("t"))
    scored.crossJoin(broadcast(vocab))
      .groupBy($"vv").agg(sum($"nh").as("n_bigrams"), sum($"t").as("st"))
      .select($"n_bigrams", $"vv".as("vocab"),
        when($"n_bigrams" > 0, pround4(-$"st".cast("double") /
          ($"n_bigrams".cast("double") * lit(1.0e9))))
          .as("cross_entropy"),
        when($"n_bigrams" > 0, pround4(exp(-$"st".cast("double") /
          ($"n_bigrams".cast("double") * lit(1.0e9)))))
          .as("perplexity"))
  }

  /** Balanced output-shard planning — which of 8 shards each document
    * lands in so shard token totals stay even (the writer-side step
    * before a distillation/training dump): documents rank globally by
    * token count (a [[graft.api.DistScan]] range-partitioned rank, no
    * single-partition sort) and deal round-robin — longest-first
    * dealing keeps the spread within one document of optimal. Output is
    * the 8-row shard manifest with the realized balance.
    */
  val llmShardPlan: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("nt"))
    val ranked = graft.api.DistScan.withGlobalRank(docs, "rk",
      $"nt".desc, $"doc_id")
    val shards = ranked
      .withColumn("shard", ($"rk" - 1) % 8)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("total_tokens"))
      .cp() // the grand total reads it again for the share column
    val tot = shards.agg(sum($"total_tokens").as("tt"))
    shards.crossJoin(broadcast(tot))
      .select($"shard", $"n_docs", $"total_tokens",
        pround4($"total_tokens".cast("double") / $"tt".cast("double"))
          .as("token_share"))
      .orderBy($"shard")
  }

  /** Payload checksum audit — the transfer-integrity gate every binary
    * ingest runs: manifest checksums (sha256 at "ingest" time) recomputed
    * after a transfer that bit-rots a deterministic md5-coin subset
    * (1/16 of payloads — the fault injection is the test fixture, the
    * detection path is the real operator). Mismatches surface per
    * source with exact counts; payload bytes never shuffle (the
    * comparison is a map-side expression).
    */
  val mmChecksumAudit: Q = (s, dir) => {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select($"doc_id", $"source", $"text",
        sha2($"text", 256).as("manifest"))
    val received = base.withColumn("payload",
      when(substring(md5($"doc_id".cast("string")), 1, 1) === "0",
        concat($"text", lit(" "))).otherwise($"text"))
    received
      .select($"source",
        (sha2($"payload", 256) =!= $"manifest").as("bad"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_payloads"),
        sum(when($"bad", 1L).otherwise(0L)).as("n_corrupt"))
      .select($"source", $"n_payloads", $"n_corrupt",
        pround4($"n_corrupt".cast("double") /
          $"n_payloads".cast("double")).as("corrupt_rate"))
      .orderBy($"source")
  }

  /** Deterministic greedy generation from the corpus bigram LM — the
    * "does the index actually continue text" smoke test an LM-data
    * pipeline runs end-to-end: start from the corpus's most frequent
    * token, take 10 argmax steps over the bigram counts (ties to the
    * lexicographically first continuation). Each step is one broadcast
    * join of the 1-row frontier against the counted bigram frame — the
    * [[graphRandomWalk]] iteration shape pointed at a language model.
    */
  val llmLmGenerate: Q = (s, dir) => {
    import s.implicits._
    val pos = Tables.documents(s, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "tok")))
      .select($"doc_id", $"p".cast("long").as("p"), $"tok")
      .cp()
    val bg = pos.as("a").join(pos.as("b"),
      $"a.doc_id" === $"b.doc_id" && $"b.p" - $"a.p" === 1)
      .groupBy($"a.tok".as("w1"), $"b.tok".as("w2"))
      .agg(count(lit(1)).as("c"))
      .cp() // 10 frontier joins read it
    val seed = pos.groupBy($"tok").agg(count(lit(1)).as("c"))
      .agg(min(struct(-$"c", $"tok")).as("m"))
      .select($"m.tok".as("tok"))
    var cur = seed.cp()
    var out = cur.withColumn("step", lit(0L))
    for (step <- 1 to 10) {
      cur = bg.join(broadcast(cur.select($"tok".as("w1"))), "w1")
        .agg(min(struct(-$"c", $"w2")).as("m"))
        .select($"m.w2".as("tok")).cp()
      out = out.unionAll(cur.withColumn("step", lit(step.toLong)))
    }
    out.select($"step", $"tok").orderBy($"step")
  }

  /** Flesch reading-ease profile per language — the classic readability
    * gate a curation pipeline applies before style filtering: flesch =
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * sentences = [.!?]+ runs (min 1) and syllables approximated by
    * [aeiouy]+ vowel groups (the standard dictionary-free heuristic —
    * declared as the op's semantics, not an approximation of one). Each
    * per-doc score quantizes to a scaled BIGINT before the language
    * rollup, so the mean is an exact integer sum — no float-order drift;
    * one fact shuffle on the ≤|langs| key.
    */
  val llmReadability: Q = (s, dir) => {
    import s.implicits._
    val per = Tables.documents(s, dir)
      .select($"lang",
        size(split(trim($"text"), " ")).cast("long").as("w"),
        greatest(size(regexp_extract_all($"text", lit("[.!?]+"), lit(0))), lit(1))
          .cast("long").as("sent"),
        size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("syl"))
      .select($"lang", $"w", $"sent", $"syl",
        // floor(x·1e4 + 0.5), not round(): identical on negatives in both
        // engines (round() half-away semantics differ corner-to-corner)
        floor((lit(206.835) -
          lit(1.015) * ($"w".cast("double") / $"sent".cast("double")) -
          lit(84.6) * ($"syl".cast("double") / $"w".cast("double"))) *
          lit(10000.0) + lit(0.5)).cast("long").as("f4"),
        round($"w".cast("double") / $"sent".cast("double") * lit(10000.0))
          .cast("long").as("wps4"))
    per.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        (sum($"f4").cast("double") / count(lit(1)).cast("double") /
          lit(10000.0)).as("avg_flesch_u"),
        (sum($"wps4").cast("double") / count(lit(1)).cast("double") /
          lit(10000.0)).as("avg_wps_u"))
      .select($"lang", $"n_docs",
        // pround4's floor form is sign-safe: floor(x·1e4 + 0.5) is the
        // identical double op on both engines for negative scores too
        LlmOps.pround4($"avg_flesch_u").as("avg_flesch"),
        LlmOps.pround4($"avg_wps_u").as("avg_words_per_sentence"))
      .orderBy($"lang")
  }

  /** Term burstiness over the corpus (Church–Gale: bursty terms
    * concentrate in few docs — the signal that separates topical words
    * from function words, and the prior behind every df-weighted
    * retrieval score): for the 20 highest-df whitespace terms, VMR =
    * variance/mean of the per-doc count INCLUDING zero docs, computed
    * entirely from exact power sums as (N·Σc² − (Σc)²) / (N·Σc) — the
    * products widen to DECIMAL(38,0) so fact-scale token counts cannot
    * overflow; one divide per term at the end. Gram counts shuffle on
    * the term key; the top-20 pick is a TakeOrdered, not a global sort.
    */
  val llmBurstiness: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val perDoc = docs
      .select($"doc_id", explode(split(trim($"text"), " ")).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("c"))
    perDoc.groupBy($"term")
      .agg(count(lit(1)).as("df"), sum($"c").as("sc"),
        sum($"c" * $"c").as("sq"))
      .crossJoin(broadcast(nDocs))
      .select($"term", $"df", $"sc".as("total_count"),
        LlmOps.pround4((($"nd".cast("decimal(38,0)") *
          $"sq".cast("decimal(38,0)") -
          $"sc".cast("decimal(38,0)") * $"sc".cast("decimal(38,0)"))
          .cast("double") /
          ($"nd".cast("decimal(38,0)") * $"sc".cast("decimal(38,0)"))
          .cast("double"))).as("vmr"))
      .orderBy($"df".desc, $"term")
      .limit(20)
  }

  /** PII scrub over the customer text surface (name ∥ account balance as
    * text ∥ segment) — the redaction pass every training-data pipeline
    * runs before text leaves the enclave: three ORDERED regex classes
    * (financial amounts `d+.dd`, account ids `Customer#…`, residual digit
    * runs ≥3 — order matters, the later classes must not re-match inside
    * earlier replacements) detected with `regexp_extract_all` and removed
    * with `regexp_replace`, all codegen'd in one projection pass; per
    * nation: row/hit counts, exact chars removed, redaction ratio. The
    * patterns are plain character-class regexes — identical semantics in
    * Java regex and DuckDB's RE2 (DuckDB needs the explicit 'g' flag;
    * Spark replaces all matches by default) — and the double→text cast is
    * shortest-round-trip decimal in both engines over the acctbal range.
    */
  val llmPiiScrub: Q = (s, dir) => {
    import s.implicits._
    val amount = "[0-9]+\\.[0-9][0-9]"
    val custid = "Customer#[0-9]+"
    val digits = "[0-9]{3,}"
    val rows = Tables.customer(s, dir)
      .select($"c_nationkey",
        concat_ws(" ", $"c_name", $"c_acctbal".cast("string"),
          $"c_mktsegment").as("blob"))
      .withColumn("r1", regexp_replace($"blob", amount, "[AMOUNT]"))
      .withColumn("r2", regexp_replace($"r1", custid, "[ID]"))
      .withColumn("r3", regexp_replace($"r2", digits, "[NUM]"))
      .select($"c_nationkey",
        size(regexp_extract_all($"blob", lit(amount), lit(0))).cast("long")
          .as("na"),
        size(regexp_extract_all($"r1", lit(custid), lit(0))).cast("long")
          .as("ni"),
        size(regexp_extract_all($"r2", lit(digits), lit(0))).cast("long")
          .as("nd"),
        length($"blob").cast("long").as("lb"),
        (length($"blob") - length($"r3")).cast("long").as("removed"))
    rows
      .join(broadcast(Tables.nation(s, dir)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_rows"), sum($"na").as("n_amount"),
        sum($"ni").as("n_id"), sum($"nd").as("n_digit_runs"),
        sum($"removed").as("chars_removed"),
        pround4(sum($"removed").cast("double") / sum($"lb").cast("double"))
          .as("redact_ratio"))
      .orderBy($"n_name")
  }

  /** Top principal component of the embedding corpus by exact-integer
    * power iteration — the direction dominating the vectors (the "rogue
    * dimension"/ABTT readout; a high explained-variance ratio says the
    * embeddings are anisotropic and similarity search wants centering):
    * values micro-quantize to 1e6-scale BIGINTs, the centered Gram matrix
    * n·S_jk − s_j·s_k accumulates EXACTLY off one id-co-partitioned
    * dimension self-join (n·d² stream — the inherent covariance cost,
    * partial-aggregated map-side), a fixed ÷10⁹ pre-scale bounds the
    * 3 power-iteration products, and each round max-|w|-renormalizes by
    * truncating division (the graph_eigencentrality discipline — Spark
    * `div` ≡ DuckDB `//`, toward zero, verified on negatives). λ and the
    * explained-variance ratio are one double tree off exact integers at
    * the end. Output: 64 scaled loadings + ev_ratio.
    */
  val llmEmbedPca: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", posexplode($"embedding").as(Seq("j", "v")))
      .select($"vec_id", $"j".cast("long").as("j"),
        round($"v".cast("double") * 1000000).cast("long").as("q"))
      .cp() // sums + the Gram self-join share the explode
    val n = e.select($"vec_id").distinct().count()
    val sj = e.groupBy($"j").agg(sum($"q").as("s"))
    val gram = e.join(e.select($"vec_id", $"j".as("k"), $"q".as("qk")),
        "vec_id")
      .groupBy($"j", $"k").agg(sum($"q" * $"qk").as("sjk"))
      .join(sj, "j")
      .join(sj.select($"j".as("k"), $"s".as("sk")), "k")
      .select($"j", $"k",
        // DECIMAL(38,0) head-room: n·S_jk brushes 2⁶³ already at sf0.1;
        // the ÷10⁹ pre-scale brings c back to BIGINT for the iterations
        expr(s"(CAST($n AS DECIMAL(38,0)) * sjk - CAST(s AS DECIMAL(38,0))" +
          " * sk) div 1000000000").as("c"))
      .cp() // consumed by 3 iterations + the trace/lambda rollup
    var v = gram.select($"j").distinct().withColumn("x", lit(1000000L)).cp()
    for (_ <- 1 to 3) {
      val w = gram.join(broadcast(v.select($"j".as("k"), $"x")), "k")
        .groupBy($"j").agg(sum($"c" * $"x").as("w"))
      val q = w.agg(expr("greatest(CAST(1 AS BIGINT)," +
        " max(abs(w)) div 1000000)").as("q"))
      v = w.crossJoin(broadcast(q))
        .select($"j", expr("w div q").as("x")).cp()
    }
    // λ numerator vᵀCv accumulates EXACTLY in DECIMAL(38,0) (a 4096-term
    // double sum would be reduction-order-dependent); one double tree at
    // the end, conversions correctly rounded on both engines (§2.9 item 7)
    val lam = gram.join(broadcast(v.select($"j".as("k"), $"x".as("xk"))), "k")
      .join(broadcast(v), "j")
      .agg(sum(($"x" * $"xk").cast("decimal(38,0)") * $"c").as("num"))
    val den = v.agg(sum($"x" * $"x").as("den"))
    val tr = gram.filter($"j" === $"k").agg(sum($"c").as("tr"))
    v.crossJoin(broadcast(lam)).crossJoin(broadcast(den))
      .crossJoin(broadcast(tr))
      .select($"j".as("pos"), $"x".as("loading_scaled"),
        pround4($"num".cast("double") / $"den".cast("double") /
          $"tr".cast("double")).as("ev_ratio"))
      .orderBy($"pos")
  }

  /** Interpolated Kneser–Ney bigram probabilities (d=0.75) — the smoothing
    * that actually works for language models, next to
    * [[llmBigramLogprob]]'s add-one baseline: the discount mass routes to
    * CONTINUATION counts (how many contexts a word completes, not how
    * often it occurs — "francisco" is frequent but only follows "san").
    * With d=3/4 the whole formula clears denominators exactly:
    * p·(4·c(w1)·N) = (4·c(w1,w2)−3)·N + 3·N₁₊(w1·)·N₁₊(·w2), all BIGINT
    * off ONE bigram rollup (context totals and continuation counts are
    * two cheap regroupings of it); one quantized divide per row, top-20
    * by probability. c(w1,w2) ≥ 1 keeps the discount positive — no max()
    * branch needed.
    */
  val llmKneserNey: Q = (s, dir) => {
    import s.implicits._
    val bi = Tables.documents(s, dir)
      .filter(size(split(trim($"text"), " ")) >= 2)
      .select(split(trim($"text"), " ").as("toks"))
      .select($"toks", explode(sequence(lit(1), size($"toks") - 1)).as("i"))
      .select(element_at($"toks", $"i").as("w1"),
        element_at($"toks", $"i" + 1).as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
      .cp() // context totals, continuation counts, N all regroup this
    val ctx = bi.groupBy($"w1")
      .agg(sum($"cb").as("cw1"), count(lit(1)).as("n1p"))
    val cont = bi.groupBy($"w2").agg(count(lit(1)).as("cont"))
    val ntot = bi.agg(count(lit(1)).as("nt"))
    bi.join(ctx, "w1").join(cont, "w2").crossJoin(broadcast(ntot))
      .select($"w1", $"w2", $"cb",
        pround4(((lit(4L) * $"cb" - 3L) * $"nt" +
          lit(3L) * $"n1p" * $"cont").cast("double") /
          (lit(4L) * $"cw1" * $"nt").cast("double")).as("p_kn"))
      .orderBy($"p_kn".desc, $"w1", $"w2")
      .limit(20)
  }

  /** Statistical watermark detection (the green-list scheme): a seeded
    * hash splits the vocabulary into green/red halves — green(t) = first
    * md5 nibble of (seed ∥ t) < 8, P(green)=½ under the null — and a
    * watermarked generator over-samples green tokens, so per document the
    * one-proportion z = (2g − n)/√n separates clean text (z ≈ 0) from
    * marked text (z ≫ 0). md5 is byte-identical on both engines (the
    * llm_fingerprint discipline); counts exact; z one fixed double tree;
    * flag at z > 2 (≈2.3% false-positive). One tokenize pass, one per-doc
    * rollup — embarrassingly parallel at any corpus size.
    */
  val llmWatermarkDetect: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(split(trim($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
      .select($"doc_id",
        when(substring(md5(concat(lit("wm1"), $"tok")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), 1L).otherwise(0L)
          .as("green"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"green").as("n_green"))
      .select($"doc_id", $"n_tokens", $"n_green",
        pround4((lit(2L) * $"n_green" - $"n_tokens").cast("double") /
          sqrt($"n_tokens".cast("double"))).as("z_green"),
        ((lit(2L) * $"n_green" - $"n_tokens").cast("double") /
          sqrt($"n_tokens".cast("double")) > lit(2.0)).as("watermarked"))
      .orderBy($"doc_id")
  }

  /** ROUGE-L near-duplicate scoring over template-blocked candidate pairs
    * — the subsequence-aware similarity the shingle family can't see
    * (LCS credits common tokens IN ORDER with gaps; reordered boilerplate
    * scores low where bag-of-shingles scores high): candidates block on
    * the [[llmTemplateDetect]] opening-shape signature (same first-8
    * token-length sequence), the [[graft.api.PairBudget]] gate bounds the
    * blocked self-join, and each pair's LCS runs in the native
    * whole-stage-codegen'd [[graft.expr.TokenLcs]] expression (a UDF
    * would de-codegen the join; HOFs cannot express the DP row
    * dependency). F1 = 2·LCS/(n₁+n₂) — exact integers into one quantized
    * divide; top-20. LCS is not expressible in DuckDB SQL → declared
    * no-oracle; an exhaustive plain-Scala replay spec is the witness.
    */
  val llmRougePairs: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    val docs = Tables.documents(s, dir)
      .select($"doc_id", trim($"text").as("text"),
        // empty tokens dropped, matching TokenLcs's tokenization (doubled
        // spaces must not inflate the F1 denominator)
        size(filter(split(trim($"text"), " "), t => t =!= ""))
          .cast("long").as("nt"),
        md5(concat_ws(",",
          transform(slice(split(trim($"text"), " "), 1, 8),
            t => length(t).cast("string")))).as("sig"))
    val g1 = graft.api.PairBudget.gate(docs, Seq($"sig"),
      "llm_rouge_pairs", "llm_dedup_minhash")
    g1.as("a")
      .join(docs.as("b"),
        $"a.sig" === $"b.sig" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        GraftSqlBridge.column(graft.expr.TokenLcs(
          GraftSqlBridge.expression($"a.text"),
          GraftSqlBridge.expression($"b.text"))).as("lcs"),
        ($"a.nt" + $"b.nt").as("ntot"))
      .select($"doc_a", $"doc_b", $"lcs",
        pround4(lit(2.0) * $"lcs".cast("double") / $"ntot".cast("double"))
          .as("rouge_l_f1"))
      .orderBy($"rouge_l_f1".desc, $"doc_a", $"doc_b")
      .limit(20)
  }

  /** Maximal-marginal-relevance selection over the embedding corpus — the
    * diversity-aware curation pick (pure top-k by relevance returns k
    * near-copies of the same winner; MMR's −maxsim term forces coverage):
    * query = the integer-floored label-0 centroid, relevance = exact
    * integer dot; a top-64 relevance SHORTLIST (TakeOrdered — the
    * at-scale pattern: greedy selection runs on a bounded pool, never the
    * corpus) then 8 greedy rounds of argmax(rel − max_{s∈S} dot(x,s)),
    * λ=½ cancelled through (both terms on the same 10⁶ quantized scale);
    * every dot is a BIGINT sum over the dimension join, ties to the
    * smaller vec_id, so the selection is bit-reproducible anywhere.
    */
  val llmMmrSelect: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"label", posexplode($"embedding").as(Seq("j", "v")))
      .select($"vec_id", $"label", $"j",
        round($"v".cast("double") * 1000000).cast("long").as("q"))
      .cp() // centroid, relevance, and the per-round sims share the explode
    val n0 = e.filter($"label" === 0).select($"vec_id").distinct().count()
    val qv = e.filter($"label" === 0)
      .groupBy($"j").agg(expr(s"sum(q) div CAST($n0 AS BIGINT)").as("qj"))
    val rel = e.join(broadcast(qv), "j")
      .groupBy($"vec_id").agg(sum($"q" * $"qj").as("rel"))
    val pool = rel.orderBy($"rel".desc, $"vec_id").limit(64)
      .join(e.select($"vec_id", $"j", $"q"), "vec_id")
      .cp() // 64·64 rows drive all 8 greedy rounds
    var sel = pool.select($"vec_id", $"rel").distinct()
      .orderBy($"rel".desc, $"vec_id").limit(1)
      .select($"vec_id", $"rel", lit(0L).as("maxsim"), lit(1L).as("pick"))
    var out = sel
    for (round <- 2 to 8) {
      val selVecs = pool
        .join(broadcast(out.select($"vec_id".as("sid"))),
          $"vec_id" === $"sid")
        .select($"sid", $"j", $"q".as("sq"))
      val cand = pool
        .join(broadcast(out.select($"vec_id".as("sid"))),
          $"vec_id" === $"sid", "left_anti")
      val sims = cand
        .join(broadcast(selVecs), "j")
        .groupBy($"vec_id", $"rel", $"sid")
        .agg(sum($"q" * $"sq").as("dot"))
        .groupBy($"vec_id", $"rel").agg(max($"dot").as("maxsim"))
      sel = sims
        .orderBy(($"rel" - $"maxsim").desc, $"vec_id").limit(1)
        .select($"vec_id", $"rel", $"maxsim", lit(round.toLong).as("pick"))
        .cp()
      out = out.unionAll(sel)
    }
    out.select($"pick", $"vec_id", $"rel".as("rel_scaled"),
      $"maxsim".as("maxsim_scaled"),
      ($"rel" - $"maxsim").as("mmr_scaled"))
      .orderBy($"pick")
  }

  /** Exact AUC of a cheap quality signal as a classifier — "how well does
    * the English-stopword ratio PREDICT that a document is English?", the
    * evaluation primitive every filter threshold decision needs (AUC is
    * threshold-free where precision/recall are not): the score quantizes
    * to an exact integer ratio, AUC computes by the rank formula
    * AUC = (R₊ − n₊(n₊+1)/2)/(n₊·n₋) with tie-averaged doubled ranks over
    * the DISTINCT-score spine (the [[graft.ops.Relational]] Mann–Whitney
    * machinery — AUC and U are the same statistic), everything BIGINT to
    * one quantized divide; Gini = 2·AUC − 1 ships next to it.
    */
  val llmScoreAuc: Q = (s, dir) => {
    import s.implicits._
    val stop = Seq("the", "of", "and", "to", "in", "a", "is", "that",
      "for", "it")
    val scored = Tables.documents(s, dir)
      .select($"doc_id", ($"lang" === "en").as("pos"),
        split(trim($"text"), " ").as("toks"))
      .select($"pos",
        expr(s"size(filter(toks, t -> t IN (${stop.map("'" + _ + "'")
          .mkString(",")})))").cast("long").as("nstop"),
        size($"toks").cast("long").as("ntok"))
      .filter($"ntok" > 0)
      .select($"pos", expr("(nstop * 1000000) div ntok").as("q"))
    val byQ = scored.groupBy($"q")
      .agg(count(lit(1)).as("c"), count(when($"pos", 1)).as("cp"))
    val r2 = byQ
      .withColumn("cum", sum($"c").over(Window.orderBy($"q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("r2", lit(2L) * ($"cum" - $"c") + $"c" + 1)
    r2.agg(sum($"cp").as("npos"), sum($"c" - $"cp").as("nneg"),
      sum($"cp" * $"r2").as("rpos2"))
      .select($"npos".as("n_pos"), $"nneg".as("n_neg"),
        pround4(($"rpos2" - $"npos" * ($"npos" + 1)).cast("double") /
          (lit(2.0) * $"npos".cast("double") * $"nneg".cast("double")))
          .as("auc"),
        pround4(($"rpos2" - $"npos" * ($"npos" + 1)).cast("double") /
          ($"npos".cast("double") * $"nneg".cast("double")) - lit(1.0))
          .as("gini"))
  }

  /** Multinomial Naive Bayes SOURCE classifier trained and evaluated
    * entirely in the dataflow — the cheap domain classifier curation
    * pipelines train to route/filter documents (the quality-classifier
    * pattern), as a declared query: train on alternating 20-doc blocks
    * ((doc_id div 20) mod 2 — the plain even/odd split would put every
    * source in exactly one half, the fixture assigns source by
    * doc_id mod 20), Laplace
    * token likelihoods over the DENSE train-vocab × source grid (zero
    * counts get their smoothing row — vocab×|sources| rows, never
    * corpus-sized), every log nano-quantized once per (token, source)
    * so per-document score sums are exact BIGINT folds; argmax with ties
    * to the lexicographically smaller source (min-struct over
    * (−score, source)); per-source test accuracy is the graded frame.
    * OOV test tokens drop at the score join (declared semantics); a test
    * document whose EVERY token is OOV gets no prediction — it stays in
    * the denominator via the LEFT join, counts as incorrect, and is
    * surfaced explicitly in `n_unclassified` (accuracy denominators never
    * silently shrink).
    */
  val llmNbClassify: Q = (s, dir) => {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", $"source", explode(split(trim($"text"), " "))
        .as("tok"))
      .filter($"tok" =!= "")
      .cp() // train counts + test scoring share the tokenize pass
    val train = toks.filter(expr("(doc_id div 20) % 2 = 0"))
    val srcTotals = train.groupBy($"source").agg(count(lit(1)).as("cs"))
    val vocab = train.select($"tok").distinct().cp()
    val v = vocab.count() // the Laplace denominator, one metadata-scale job
    val dense = vocab.crossJoin(broadcast(srcTotals))
      .join(train.groupBy($"tok", $"source").agg(count(lit(1)).as("cts")),
        Seq("tok", "source"), "left")
      .select($"tok", $"source",
        floor(log((coalesce($"cts", lit(0L)) + 1).cast("double") /
          ($"cs" + lit(v)).cast("double")) * lit(1.0e9) + lit(0.5))
          .cast("long").as("tsq"))
    val trainDocs = Tables.documents(s, dir)
      .filter(expr("(doc_id div 20) % 2 = 0"))
      .groupBy($"source").agg(count(lit(1)).as("nd"))
    val priorQ = trainDocs
      .crossJoin(broadcast(trainDocs.agg(sum($"nd").as("n"))))
      .select($"source",
        floor(log($"nd".cast("double") / $"n".cast("double")) *
          lit(1.0e9) + lit(0.5)).cast("long").as("pq"))
    val test = toks.filter(expr("(doc_id div 20) % 2 <> 0"))
    val pred = test
      .join(dense.withColumnRenamed("source", "hyp"), "tok")
      .groupBy($"doc_id", $"hyp").agg(sum($"tsq").as("ts"))
      .join(broadcast(priorQ.withColumnRenamed("source", "hyp")), "hyp")
      .select($"doc_id", $"hyp", ($"ts" + $"pq").as("score"))
      .groupBy($"doc_id")
      .agg(min(struct((-$"score").as("ns"), $"hyp".as("h"))).as("m"))
      .select($"doc_id", $"m.h".as("pred"))
    Tables.documents(s, dir)
      .filter(expr("(doc_id div 20) % 2 <> 0"))
      .select($"doc_id", $"source")
      .join(pred, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_test"),
        sum(when($"pred" === $"source", 1L).otherwise(0L)).as("n_correct"),
        sum(when($"pred".isNull, 1L).otherwise(0L)).as("n_unclassified"))
      .select($"source", $"n_test", $"n_correct", $"n_unclassified",
        pround4($"n_correct".cast("double") / $"n_test".cast("double"))
          .as("accuracy"))
      .orderBy($"source")
  }

  /** Dunning log-likelihood-ratio collocations — the collocation score
    * that stays calibrated at LOW counts where PMI explodes (the standard
    * since Dunning '93): per bigram the 2×2 contingency table (first
    * token = a × second token = b over the bigram-event space) is exact
    * integer, LLR = 2·Σ k·ln(k·N/(rowΣ·colΣ)) with each of the ≤4 ln
    * terms nano-quantized once (zero cells contribute zero — no log of
    * zero), summed in BIGINT; top-20 by LLR. One bigram rollup + two
    * broadcast margin joins — the [[llmCollocations]] stream with the
    * scoring the raw-counts op leaves to the reader.
    */
  val llmCollocationsLlr: Q = (s, dir) => {
    import s.implicits._
    val bi = Tables.documents(s, dir)
      .filter(size(split(trim($"text"), " ")) >= 2)
      .select(split(trim($"text"), " ").as("ts"))
      .select($"ts", explode(sequence(lit(1), size($"ts") - 1)).as("i"))
      .select(element_at($"ts", $"i").as("a"),
        element_at($"ts", $"i" + 1).as("b"))
      .cp() // pair counts + both margins regroup this
    val nb = bi.agg(count(lit(1)).as("n"))
    val ma = bi.groupBy($"a").agg(count(lit(1)).as("ca"))
    val mb = bi.groupBy($"b").agg(count(lit(1)).as("cb"))
    val cells = bi.groupBy($"a", $"b").agg(count(lit(1)).as("k11"))
      .join(ma, "a").join(mb, "b").crossJoin(broadcast(nb))
      .withColumn("k12", $"ca" - $"k11")
      .withColumn("k21", $"cb" - $"k11")
      .withColumn("k22", $"n" - $"ca" - $"cb" + $"k11")
    def lq(k: Column, row: Column, col: Column): Column =
      when(k > 0,
        floor(k.cast("double") *
          log((k.cast("double") * $"n".cast("double")) /
            (row.cast("double") * col.cast("double"))) *
          lit(1.0e9) + lit(0.5)).cast("long"))
        .otherwise(0L)
    cells
      .withColumn("llrq",
        lit(2L) * (lq($"k11", $"ca", $"cb") +
          lq($"k12", $"ca", $"n" - $"cb") +
          lq($"k21", $"n" - $"ca", $"cb") +
          lq($"k22", $"n" - $"ca", $"n" - $"cb")))
      .select($"a", $"b", $"k11".as("n_pair"),
        pround4($"llrq".cast("double") / lit(1.0e9)).as("llr"))
      .orderBy($"llr".desc, $"a", $"b")
      .limit(20)
  }

  val queries: Map[String, Q] = Map(
    "llm_collocations_llr" -> llmCollocationsLlr,
    "llm_nb_classify" -> llmNbClassify,
    "llm_score_auc" -> llmScoreAuc,
    "llm_mmr_select" -> llmMmrSelect,
    "llm_rouge_pairs" -> llmRougePairs,
    "llm_watermark_detect" -> llmWatermarkDetect,
    "llm_pii_scrub" -> llmPiiScrub,
    "llm_embed_pca" -> llmEmbedPca,
    "llm_kneser_ney" -> llmKneserNey,
    "llm_readability" -> llmReadability,
    "llm_burstiness" -> llmBurstiness,
    "llm_lm_generate" -> llmLmGenerate,
    "llm_shard_plan" -> llmShardPlan,
    "mm_checksum_audit" -> mmChecksumAudit,
    "llm_bigram_perplexity" -> llmBigramPerplexity,
    "llm_filter_funnel" -> llmFilterFunnel,
    "llm_embed_drift" -> llmEmbedDrift,
    "llm_cdc_dedup" -> llmCdcDedup,
    "llm_ann_recall" -> llmAnnRecall,
    "llm_chunk_cdc" -> llmChunkCdc,
    "llm_embed_dim_stats" -> llmEmbedDimStats,
    "llm_embed_quantize" -> llmEmbedQuantize,
    "llm_semdedup" -> llmSemdedup,
    "llm_token_mi" -> llmTokenMi,
    "llm_ngram_coverage" -> llmNgramCoverage,
    "llm_skipgram_pairs" -> llmSkipgramPairs,
    "llm_pref_pairs" -> llmPrefPairs,
    "mm_chunk_manifest" -> mmChunkManifest,
    "mm_payload_dedup" -> mmPayloadDedup,
    "llm_dataset_card" -> llmDatasetCard,
    "llm_hash_embed" -> llmHashEmbed,
    "fn_codec" -> fnCodec,
    "llm_bpe_first_merge" -> llmBpeFirstMerge,
    "llm_bpe_train" -> llmBpeTrain,
    "llm_bpe_encode" -> llmBpeEncode,
    "llm_bpe_vocab" -> llmBpeVocab,
    "llm_sample_temperature" -> llmSampleTemperature,
    "llm_spatial_grid" -> llmSpatialGrid,
    "llm_template_detect" -> llmTemplateDetect,
    "llm_min_token_freq" -> llmMinTokenFreq,
    "llm_kwic" -> llmKwic,
    "llm_span_mask" -> llmSpanMask,
    "llm_lang_confusion" -> llmLangConfusion,
    "llm_embed_outliers" -> llmEmbedOutliers,
    "llm_source_cap" -> llmSourceCap,
    "llm_hapax_ratio" -> llmHapaxRatio,
    "llm_vocab_growth" -> llmVocabGrowth,
    "llm_js_divergence" -> llmJsDivergence,
    "llm_mad_outliers" -> llmMadOutliers,
    "llm_entropy_rate" -> llmEntropyRate,
    "llm_bigram_logprob" -> llmBigramLogprob,
    "llm_dedup_paragraph" -> llmDedupParagraph,
    "llm_train_val_split" -> llmTrainValSplit,
    "fn_struct" -> fnStruct,
    "llm_minhash_calibration" -> llmMinhashCalibration,
    "llm_containment_join_banded" -> llmContainmentJoinBanded,
    "llm_span_corruption" -> llmSpanCorruption,
    "llm_dataset_split" -> llmDatasetSplit,
    "llm_oov_rate" -> llmOovRate,
    "llm_label_balance" -> llmLabelBalance,
    "llm_char_class_profile" -> llmCharClassProfile,
    "llm_ngram_entropy" -> llmNgramEntropy,
    "llm_review_sample" -> llmReviewSample,
    "llm_hard_negatives" -> llmHardNegatives,
    "llm_prefix_dedup" -> llmPrefixDedup,
    "llm_bpe_pair_stats" -> llmBpePairStats,
    "llm_curriculum_order" -> llmCurriculumOrder,
    "llm_ttr_curve" -> llmTtrCurve,
    "llm_containment_join" -> llmContainmentJoin,
    "llm_ngram_novelty" -> llmNgramNovelty,
    "llm_fuzzy_join" -> llmFuzzyJoin,
    "llm_zipf_slope" -> llmZipfSlope,
    "fn_regex" -> fnRegex,
    "llm_dup_ngram_spans" -> llmDupNgramSpans,
    "llm_bm25_topk" -> llmBm25Topk,
    "mm_frame_sample" -> mmFrameSample,
    "mm_audio_window" -> mmAudioWindow,
    "fn_string" -> fnString,
    "fn_date" -> fnDate,
    "fn_math" -> fnMath,
    "fn_array" -> fnArray,
    "fn_map" -> fnMap,
    "fn_cond" -> fnCond,
    "fn_bitwise" -> fnBitwise,
    "llm_dedup_exact" -> llmDedupExact,
    "llm_dedup_near" -> llmDedupNear,
    "llm_dedup_embed" -> llmDedupEmbed,
    "llm_ngram_jaccard" -> llmNgramJaccard,
    "llm_pack_chunks" -> llmPackChunks,
    "llm_dedup_minhash" -> llmDedupMinhash,
    "llm_dedup_minhash_idx" -> llmDedupMinhashIdx,
    "llm_dedup_cluster" -> llmDedupCluster,
    "llm_dup_cluster_sizes" -> llmDupClusterSizes,
    "llm_stopword_profile" -> llmStopwordProfile,
    "llm_vocab_venn" -> llmVocabVenn,
    "llm_keyphrase_rake" -> llmKeyphraseRake,
    "llm_token_fertility" -> llmTokenFertility,
    "llm_embed_norms" -> llmEmbedNorms,
    "llm_suffix_freq" -> llmSuffixFreq,
    "llm_idf_drift" -> llmIdfDrift,
    "llm_compressibility" -> llmCompressibility,
    "llm_entropy_outliers" -> llmEntropyOutliers,
    "llm_decontaminate" -> llmDecontaminate,
    "llm_decontaminate_bloom" -> llmDecontaminateBloom,
    "llm_collocations" -> llmCollocations,
    "fn_json" -> fnJson,
    "llm_perplexity_filter" -> llmPerplexityFilter,
    "llm_embed_centroids" -> llmEmbedCentroids,
    "llm_chunk_sliding" -> llmChunkSliding,
    "llm_dedup_simhash" -> llmDedupSimhash,
    "llm_dedup_simhash_pairs" -> llmDedupSimhashPairs,
    "llm_sim_search" -> llmSimSearch,
    "llm_sim_join" -> llmSimJoin,
    "llm_ann_ivf" -> llmAnnIvf,
    "llm_ann_pq" -> llmAnnPq,
    "llm_ann_ivfpq" -> llmAnnIvfPq,
    "llm_ann_kmeans" -> llmAnnKmeans,
    "llm_ann_lsh" -> llmAnnLsh,
    "llm_ann_knngraph" -> llmAnnKnnGraph,
    "llm_text_stats" -> llmTextStats,
    "llm_tfidf_topk" -> llmTfidfTopk,
    "llm_token_count" -> llmTokenCount,
    "llm_quality_score" -> llmQualityScore,
    "llm_gopher_rules" -> llmGopherRules,
    "llm_lang_id" -> llmLangId,
    "llm_fingerprint" -> llmFingerprint,
    "llm_rolling_hash" -> llmRollingHash,
    "llm_repetition_filter" -> llmRepetitionFilter,
    "llm_winnowing" -> llmWinnowing,
    "llm_importance_resample" -> llmImportanceResample,
    "llm_dedup_winnow" -> llmDedupWinnow,
    "llm_overlap_matrix" -> llmOverlapMatrix,
    "llm_ngram_freq" -> llmNgramFreq,
    "llm_sample_stratified" -> llmSampleStratified,
    "llm_interleave_mix" -> llmInterleaveMix,
    "llm_unigram_logprob" -> llmUnigramLogprob,
    "llm_multimodal_join" -> llmMultimodalJoin,
    "llm_pipeline_e2e" -> llmPipelineE2e,
    "llm_pipeline_pack" -> llmPipelinePack,
    "llm_sim_topk" -> llmSimTopk,
    "mm_decode_stub" -> mmDecodeStub,
    "mm_tile_grid" -> mmTileGrid,
    "mm_scene_cuts" -> mmSceneCuts,
    "mm_frame_dedup" -> mmFrameDedup,
    "mm_resize_batch" -> mmResizeBatch
  )
}
