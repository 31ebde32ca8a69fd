package graft.api

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.ShingleGen
import Ckpt._

/** Public text-pipeline API over any (id, text) corpus — the LLM
  * training-data operators as composable functions. The registry ops in
  * `ops.LlmOps` instantiate these over the `documents` fixture.
  *
  * All-pairs stages are candidate-bounded (shingle keys, LSH bands); hashes
  * are engine-portable (sha2/md5).
  */
object TextPipeline {

  /** Distinct (id, shingle) rows via the ShingleGen UDTF. */
  def shingles(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    docs.filter(size(split(text, " ")) >= n)
      .select(id.as("doc_id"),
        GraftSqlBridge.column(ShingleGen(GraftSqlBridge.expression(text), n)).as("s"))
      .distinct()

  /** Concat-and-chunk sequence packing (the standard LLM-pretraining
    * packing): within each group, docs concatenate in id order and split at
    * fixed `contextTokens` boundaries; chunk = running start offset div C.
    * Pure window arithmetic — one shuffle on the group key, no iterative
    * bin state.
    */
  def packChunks(docs: DataFrame, group: Column, id: Column, text: Column,
                 contextTokens: Int): DataFrame = {
    val w = Window.partitionBy(col("grp")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(group.as("grp"), id.as("id"),
        size(split(text, " ")).cast("long").as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("chunk", expr(s"start_off div $contextTokens"))
  }

  /** Exact dedup groups on normalized text hash; min id survives. */
  def dedupExact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(sha2(lower(trim(text)), 256).as("h"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact shingle-Jaccard near-dup pairs ≥ minJ (brute-force; the shingle
    * equi-join is the blocking). Use [[minhashLsh]] at scale.
    */
  def dedupNear(docs: DataFrame, id: Column, text: Column, minJ: Double): DataFrame = {
    val ex = shingles(docs, id, text)
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    jaccardOf(
      ex.as("a").join(ex.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("common")),
      sizes, minJ)
  }

  /** MinHash-LSH near-dup: nHashes portable minhashes in `bands` bands;
    * exact Jaccard verified for band-collision candidates only.
    */
  def minhashLsh(docs: DataFrame, id: Column, text: Column,
                 minJ: Double, nHashes: Int = 8, bands: Int = 4): DataFrame = {
    require(nHashes % bands == 0, "nHashes must divide into bands")
    val rows = nHashes / bands
    val ex = shingles(docs, id, text)
    val hashAggs = (0 until nHashes).map(i =>
      min(md5(concat(lit(i.toString), col("s")))).as(s"h$i"))
    val mh = ex.groupBy(col("doc_id")).agg(hashAggs.head, hashAggs.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      val key = concat((0 until rows).map(r => col(s"h${b * rows + r}")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    val bandRows = mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cands = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = cands
      .join(ex.select(col("doc_id").as("d1"), col("s").as("s1")), "d1")
      .join(ex.select(col("doc_id").as("d2"), col("s").as("s1")), Seq("d2", "s1"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("common"))
    jaccardOf(common, sizes, minJ)
  }

  /** Gopher-style repetition quality signals per document: duplicate
    * bigram/trigram counts+fractions, top-word dominance, and the
    * repetitive flag (dup-2gram fraction > 0.2 OR top-word fraction > 0.3,
    * compared in exact integer arithmetic). Per-row ARRAY computation in
    * whole-stage codegen — zero shuffles; right for bounded-length docs
    * (an unbounded corpus should use the explode+agg shape instead).
    * Docs need ≥ 3 tokens. The registry op `llm_repetition_filter` is this
    * over the `documents` fixture (oracle-checked).
    */
  def repetitionSignals(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import graft.ops.LlmOps.pround4
    docs.filter(size(split(text, " ")) >= 3)
      .select(id.as("doc_id"), split(text, " ").as("ts"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("nt"),
        expr("transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i+1]))")
          .as("b2"),
        expr("transform(sequence(0, size(ts) - 3), i -> concat(ts[i], ' ', ts[i+1], ' ', ts[i+2]))")
          .as("b3"),
        expr("array_max(transform(array_distinct(ts), w -> size(filter(ts, x -> x = w))))")
          .cast("long").as("topw"))
      .select(col("doc_id"), col("nt"), col("topw"),
        (size(col("b2")) - size(array_distinct(col("b2")))).cast("long").as("dup2"),
        (size(col("b3")) - size(array_distinct(col("b3")))).cast("long").as("dup3"))
      .select(col("doc_id"), col("nt"), col("dup2"), col("dup3"), col("topw"),
        pround4(col("dup2") / (col("nt") - 1)).as("dup2_frac"),
        pround4(col("dup3") / (col("nt") - 2)).as("dup3_frac"),
        pround4(col("topw") / col("nt")).as("topw_frac"),
        when(col("dup2") * 5 > (col("nt") - 1) ||
             col("topw") * 10 > col("nt") * 3, 1L).otherwise(0L).as("repetitive"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken — MOSS): md5₃₂
    * hashes of k-token shingles, minimum of each window of `w` consecutive
    * hashes, distinct selected hashes per document as (doc_id, fp) rows.
    * Any substring of ≥ k+w−1 shared tokens contributes a common
    * fingerprint; ~2/(w+1) of hashes are kept. Per-row arrays until the
    * final explode. Docs need ≥ k+w−1 tokens. The registry op
    * `llm_winnowing` is this at (k=3, w=4) over `documents`.
    */
  def winnowing(docs: DataFrame, id: Column, text: Column,
                k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing needs k,w >= 1 (got k=$k, w=$w)")
    val kgram = (0 until k).map(j => s"ts[i + $j]").mkString("concat_ws(' ', ", ", ", ")")
    docs.filter(size(split(text, " ")) >= k + w - 1)
      .select(id.as("doc_id"), split(text, " ").as("ts"))
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, size(ts) - $k),
           |  i -> CAST(conv(substring(md5($kgram), 1, 8), 16, 10) AS BIGINT))"""
          .stripMargin).as("hs"))
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(hs) - $w), i -> array_min(slice(hs, i + 1, $w)))")))
        .as("fp"))
  }

  /** Source×source contamination matrix over any labeled corpus: distinct
    * shared k-shingles and shingle-set Jaccard per label pair. The shingle
    * equi-join holds ≤ 1 row per label per block — pair stream LINEAR in
    * corpus size, output C(|labels|,2) rows. The registry op
    * `llm_overlap_matrix` is this over `documents.source`.
    */
  def overlapMatrix(docs: DataFrame, id: Column, text: Column,
                    label: Column, k: Int = 3): DataFrame = {
    import graft.ops.LlmOps.pround4
    val ss = shingles(docs, id, text, k)
      .join(docs.select(id.as("doc_id"), label.as("source")), "doc_id")
      .select(col("source"), col("s")).distinct()
      .cp() // totals AND both join sides
    val tot = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    ss.as("x").join(ss.as("y"),
        col("x.s") === col("y.s") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src1"), col("y.source").as("src2"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(tot.select(col("source").as("src1"), col("n").as("n1"))), "src1")
      .join(broadcast(tot.select(col("source").as("src2"), col("n").as("n2"))), "src2")
      .select(col("src1"), col("src2"), col("shared"), col("n1"), col("n2"),
        pround4(col("shared") / (col("n1") + col("n2") - col("shared"))).as("jaccard"))
  }

  private def jaccardOf(common: DataFrame, sizes: DataFrame, minJ: Double): DataFrame =
    common
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("j", col("common") / (col("n1") + col("n2") - col("common")))
      .filter(col("j") >= minJ)
      // pround4, not round: small-integer quotient, half-boundary safe
      // (same treatment as the registry twins — keeps ApiSpec's equality
      // assertions exact)
      .select(col("d1"), col("d2"), graft.ops.LlmOps.pround4(col("j")).as("jaccard"))

  // ===== persisted MinHash signature index (offline build / online serve) =====

  /** OFFLINE half of the near-dup index: per-document MinHash signatures
    * (nHashes portable md5 min-hashes) + shingle count — the artifact a
    * production pipeline persists. Building it is the expensive full-corpus
    * tokenize→shingle→hash scan; everything the online side needs per doc
    * is these nHashes+1 small values.
    */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column,
                        nHashes: Int = 8): DataFrame = {
    val ex = shingles(docs, id, text)
    val aggs = (0 until nHashes).map(i =>
      min(md5(concat(lit(i.toString), col("s")))).as(s"h$i")) :+
      count(lit(1)).as("n")
    ex.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Persist/reload the signature artifact (parquet; trivially splittable,
    * ~(nHashes·32+16) bytes per doc).
    */
  def saveSignatures(sig: DataFrame, path: String): Unit =
    sig.write.mode("overwrite").parquet(path)
  def loadSignatures(s: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** INCREMENTAL maintenance of the signature artifact: upsert one
    * micro-batch of documents into a bucket-partitioned signature store —
    * the 100 TB ingestion reality where dedup is continuous, not a batch
    * afterthought. The store partitions on `bucket = doc_id mod buckets`;
    * an upsert computes the batch's signatures, then dynamically
    * overwrites ONLY the touched bucket partitions with (existing rows of
    * those buckets minus the batch's doc ids) ∪ (the batch's fresh
    * signatures) — so a re-delivered document REPLACES its previous row
    * (replay-idempotent, the foreachBatch at-least-once contract) and
    * untouched buckets are never rewritten. The merged frame is eagerly
    * materialized (cp) before the write so the store can be read and
    * overwritten in one upsert without a self-overwrite conflict.
    * Scale shape: per batch one signature build over batch-sized input,
    * one semi-join-pruned read of the touched buckets, one anti-join on
    * the doc key — cost tracks batch size + touched-bucket size, never
    * the corpus.
    */
  def upsertSignatures(batch: DataFrame, id: Column, text: Column,
                       path: String, nHashes: Int = 8,
                       buckets: Int = 16): Unit = {
    val s = batch.sparkSession
    val sig = minhashSignatures(batch, id, text, nHashes)
      .withColumn("bucket", pmod(col("doc_id"), lit(buckets)))
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val exists = fs.exists(hPath) &&
      fs.listStatus(hPath).exists(!_.getPath.getName.startsWith("_"))
    val merged = (if (exists) {
      s.read.parquet(path)
        .join(broadcast(sig.select(col("bucket")).distinct()),
          Seq("bucket"), "left_semi")
        .join(sig.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(sig)
    } else sig).cp()
    // dynamic overwrite as a writer option: the caller's session conf is
    // never touched, so a concurrent query in that session is unaffected
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(path)
  }

  /** ONLINE half: serve near-dup pairs FROM the signature artifact.
    * Candidates come from the banded signature self-join (no corpus scan);
    * exact-Jaccard verification re-shingles ONLY candidate documents (a
    * broadcast semi-join prunes the docs scan to the candidate ids — at
    * 100 TB this touches a vanishing fraction of the corpus). Result is
    * bit-identical to [[minhashLsh]] run end-to-end.
    */
  def nearDupFromSignatures(sig: DataFrame, docs: DataFrame, id: Column,
                            text: Column, minJ: Double, nHashes: Int = 8,
                            bands: Int = 4): DataFrame = {
    require(nHashes % bands == 0, "nHashes must divide into bands")
    val rows = nHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val key = concat((0 until rows).map(r => col(s"h${b * rows + r}")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    val bandRows = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cands = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
    val candIds = cands.select(col("d1").as("graft_cand_id"))
      .union(cands.select(col("d2").as("graft_cand_id"))).distinct()
    val ex = shingles(
      docs.join(broadcast(candIds), id === col("graft_cand_id"), "left_semi"), id, text)
    val sizes = sig.select(col("doc_id"), col("n"))
    val common = cands
      .join(ex.select(col("doc_id").as("d1"), col("s").as("s1")), "d1")
      .join(ex.select(col("doc_id").as("d2"), col("s").as("s1")), Seq("d2", "s1"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("common"))
    jaccardOf(common, sizes, minJ)
  }

  /** 64-bit SimHash per document (token-hash bit majority, one nested
    * aggregate — no row blow-up).
    */
  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), explode(split(text, " ")).as("w"))
      .groupBy(col("doc_id")).agg(collect_list(xxhash64(col("w"))).as("hs"))
      .select(col("doc_id"), expr(
        """aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, b) ->
          |  acc + IF(aggregate(hs, 0, (a, h) ->
          |             a + IF((shiftright(h, b) & 1) = 1, 1, -1)) >= 0,
          |           shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))""".stripMargin)
        .as("simhash"))

  /** Winnowing-style fingerprint: min salted-md5 shingle + cardinality. */
  def fingerprint(docs: DataFrame, id: Column, text: Column): DataFrame =
    shingles(docs, id, text)
      .groupBy(col("doc_id"))
      .agg(min(substring(md5(col("s")), 1, 16)).as("fingerprint"),
        count(lit(1)).as("n_shingles"))

  /** tf-idf top-k terms per grouping column. */
  def tfidfTopK(docs: DataFrame, group: Column, text: Column, k: Int): DataFrame = {
    val tok = docs.select(group.as("source"), explode(split(text, " ")).as("term"))
    val perSrc = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    val tot = tok.groupBy(col("source")).agg(count(lit(1)).as("total"))
    val dfc = perSrc.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
    val ns = docs.agg(countDistinct(group).as("ns"))
    val w = Window.partitionBy(col("source")).orderBy(col("score").desc, col("term"))
    perSrc.join(tot, "source").join(dfc, "term").crossJoin(broadcast(ns))
      .withColumn("score", (col("cnt") / col("total")) * log(col("ns") / col("dfc")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("term"), round(col("score"), 6).as("score"), col("rnk"))
  }

  /** Stopword-table language id: argmax candidate by hit count. */
  def langId(docs: DataFrame, id: Column, text: Column, stopwords: DataFrame): DataFrame = {
    val tok = docs.select(id.as("doc_id"), explode(split(text, " ")).as("w"))
    val rn = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand"))
    val best = tok.join(broadcast(stopwords.toDF("cand", "w")), "w")
      .groupBy(col("doc_id"), col("cand")).agg(count(lit(1)).as("score"))
      .withColumn("rn", row_number().over(rn)).filter(col("rn") === 1)
      .select(col("doc_id"), col("cand"), col("score"))
    docs.select(id.as("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cand"), lit("und")).as("lang_pred"),
        coalesce(col("score"), lit(0L)).as("score"))
  }
}
