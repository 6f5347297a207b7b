package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.textops.TextOps

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label).
  *
  * Brute-force cosine top-k is the correctness baseline: a broadcast of
  * the (small) query set against the full table — one pass, no shuffle of
  * the big side, codegen'd higher-order expressions for the dot product
  * (`aggregate`/`zip_with`), never a driver-side loop.
  *
  * The scale path is sign-LSH: deterministic pseudo-random hyperplanes
  * (hash-derived, no RNG), bucket on the sign bit-string, search within
  * bucket only — candidate generation is O(bucket size), not O(n).
  */
object Similarity {

  def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** cosine(a, b) over two float-array columns — the native codegen'd
    * CosineSim expression (graft.functions): same ascending sequential
    * fold as the old aggregate/zip_with chain and the DuckDB oracle, but
    * a tight generated loop instead of per-element interpreted lambdas.
    */
  private def cosine(a: Column, b: Column) = call_function("cosine_sim", a, b)

  /** Every top-k search (s1, s2, s4, s6-s8) asks for the TopK nearest
    * neighbors of each of the first NumQueries vec_ids.
    */
  val NumQueries = 10
  val TopK = 5

  private val topkCache = new graft.util.SessionCache[DataFrame]

  /** Brute-force cosine top-k: the query vec_ids against the whole table;
    * top TopK neighbors each (self excluded). Memoized + checkpointed per
    * (session, dir): this is the ground truth s6 and s7 both compare
    * against, and the O(n·q) scan must not re-run per consumer.
    */
  def cosineTopK(s: SparkSession, dir: String): DataFrame =
    topkCache.getOrElseUpdate(s, dir) {
      cosineTopKOn(embeddings(s, dir)).localCheckpoint()
    }

  /** Brute-force top-k over an arbitrary (vec_id, embedding) frame —
    * the table-reading wrapper above and the s8 clustered family share
    * this one definition.
    */
  private def cosineTopKOn(emb: DataFrame): DataFrame =
    rankTopK(emb.join(broadcast(queryRows(emb)), col("vec_id") =!= col("q_id")))

  /** (q_id, q_emb) of the NumQueries query vectors. */
  private def queryRows(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** The one exact re-rank of every top-k path (s1, s2, s4, s8): cosine
    * of each (q_id, q_emb) × (vec_id, embedding) candidate row, then the
    * top TopK per query by (cos desc, vec_id) — the oracles' tie-break.
    */
  private def rankTopK(cand: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(cand.sparkSession)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    cand
      .withColumn("cos", round(cosine(col("q_emb"), col("embedding")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Multi-table sign-LSH layout: NumTables independent hash tables of
    * NumPlanes sign bits each. Recall for a neighbor with bit-agreement
    * probability p (= 1 - angle/pi) is 1-(1-p^P)^L; candidates per query
    * ≈ L·n/2^P. This corpus's true neighbors are only cos ≈ 0.38
    * (p ≈ 0.62), so P=4, L=8 targets recall ≈ 1-(1-0.15)^8 ≈ 0.72 at
    * n/16-sized buckets; for a production corpus with cos ≥ 0.85
    * near-dups (p ≈ 0.82) the same layout gives recall ≈ 0.98 — tune P
    * up as similarity rises to shrink the candidate set.
    */
  val NumPlanes = 4
  val NumTables = 8

  /** Deterministic hyperplane sign, computed ONCE on the driver: global
    * plane index i, dim d → low bit of the first 8 hex chars of
    * md5("i:d") — bit-identical to the oracle's SQL md5 derivation, but
    * baked into the plan as literal arrays instead of re-hashing per row
    * (md5-per-dim-per-plane in the expression tree cost ~50s at sf0.1).
    */
  private[sim] def planeSigns(i: Int, dim: Int): Array[Double] = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { d =>
      val digest = md5.digest(s"$i:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // SQL parity of conv(substring(md5, 1, 8), 16, 10) % 2 = low bit of byte 3
      if ((digest(3) & 1) == 1) 1.0 else -1.0
    }
  }

  private def bucketExpr(table: Int, dim: Int) = {
    val bitCols = (0 until NumPlanes).map { p =>
      val i = table * NumPlanes + p
      val signs = planeSigns(i, dim).mkString(",")
      val dot = expr(
        s"aggregate(zip_with(embedding, array($signs), (x, y) -> cast(x AS double) * y), 0D, (acc, v) -> acc + v)")
      when(dot >= 0, lit(1L << p)).otherwise(0L)
    }
    bitCols.reduce(_ + _)
  }

  /** (vec_id, tbl, bucket) — one row per hash table per vector.
    * Persisted once per (session, dir): s2 and t9 both probe it.
    */
  private val bucketCache = new graft.util.SessionCache[DataFrame]

  def lshBuckets(s: SparkSession, dir: String): DataFrame =
    bucketCache.getOrElseUpdate(s, dir)({
      val emb = embeddings(s, dir)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val df = emb
        .withColumn("buckets", array((0 until NumTables).map(bucketExpr(_, dim)): _*))
        .select(col("vec_id"), col("label"),
          posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    })

  /** Multi-table LSH ANN: candidates = vectors sharing a (table, bucket)
    * with the query in ANY table, deduped, then exact cosine + top-k.
    * At 10^9 vectors the per-table bucket join + pair dedup replaces the
    * O(n·q) scan; embeddings are re-attached AFTER dedup so the shuffle
    * carries (q_id, vec_id) pairs, not vectors.
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val buckets = lshBuckets(s, dir)
    val qBuckets = broadcast(
      buckets.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("tbl").as("q_tbl"), col("bucket").as("q_bucket")))
    val pairs = buckets
      .join(qBuckets,
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    rankTopK(pairs.join(emb, "vec_id").join(broadcast(queryRows(emb)), "q_id"))
  }

  /** Centroid (mean vector) per label — the IVF coarse-quantizer step:
    * one groupBy over posexploded components (shuffles label×dim partial
    * sums, not raw vectors).
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    labelCentroidsOf(embeddings(s, dir))

  private def labelCentroidsOf(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("dim", col("dim").cast("long"))
      .groupBy("label", "dim")
      .agg((round(avg(col("v")), 4) + lit(0.0)).as("mean_v"))
      .orderBy("label", "dim")

  /** Centroids collected to the driver, memoized per (session, dir) —
    * the k ≈ √n cell centers are broadcast-sized by construction, so
    * they are baked into projections as literals (see ivfTopK) instead
    * of joined. One aggregation job total, shared by the assignment and
    * probe branches (r2 computed it twice).
    */
  private val centroidCache = new graft.util.SessionCache[Array[(Int, Array[Double])]]

  /** Warm hook (Bench): materialize the collected-centroid memo — the
    * IVF index-build step, shared by every subsequent ivfTopK call.
    */
  def warmCentroids(s: SparkSession, dir: String): Int = collectedCentroids(s, dir).length

  private[sim] def collectedCentroids(s: SparkSession, dir: String): Array[(Int, Array[Double])] =
    centroidCache.getOrElseUpdate(s, dir) { centroidsOf(labelCentroids(s, dir)) }

  private def centroidsOf(labelCentroids: DataFrame): Array[(Int, Array[Double])] =
    labelCentroids.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toArray
      .map { case (lbl, rows) => (lbl, rows.sortBy(_._2).map(_._3)) }
      .sortBy(_._1)

  /** The cosine cut of embedding near-dup pairs (t9, s5). */
  val CosineThreshold = 0.40

  /** Embedding-cosine near-duplicate detection: candidate pairs from the
    * multi-table LSH layout (no O(n²) scan; the shared TextOps.bandPairs
    * join and MaxBandBucket cap, one band per hash table), verified with
    * exact cosine, kept at ≥ CosineThreshold. The dedup twin of lshTopK —
    * at 10^9 vectors this is the "collapse same-content embeddings" pass
    * of a training pipeline. Verified pairs are memoized per (session,
    * dir): t9 and the s5 grouping share one computation.
    */
  private val dedupPairCache = new graft.util.SessionCache[DataFrame]

  def embeddingDedup(s: SparkSession, dir: String): DataFrame =
    dedupPairCache.getOrElseUpdate(s, dir) {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val emb = embeddings(s, dir)
      // exact-dedup-first: byte-equal embeddings collapse before bucket
      // pairing, via the fingerprint-keyed keeper selection
      val bands = lshBuckets(s, dir).join(exactKeepers(emb), Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("id"), col("tbl").as("band"), col("bucket").as("key"))
      TextOps.verifiedPairs(TextOps.bandPairs(bands, "t9"),
        emb.select(col("vec_id").as("id"), col("embedding").as("v")), "cos")(
        (ea, eb) => round(cosine(ea, eb), 4), _ >= CosineThreshold)
    }

  /** Exact-dedup keepers: one min vec_id per byte-identical vector,
    * grouped on a 128-bit CONTENT FINGERPRINT (two differently-salted
    * xxhash64 words over the array) instead of the vector payload — the
    * exact-dedup shuffle carries 16 bytes per row where grouping on the
    * array itself would shuffle the full embedding (at 10^9 × 256B+
    * vectors that is the difference between a 16 GB and a 256 GB+
    * shuffle). The salt goes FIRST: XxHash64 folds children
    * sequentially with the running hash as seed, so `xxhash64(emb, 1)`
    * would make the second word a pure function of the first (64 bits
    * total, ~2-3% birthday-collision odds at 10^9 rows) — hashing the
    * salt first re-seeds the whole array fold instead, giving two
    * distinct 64-bit views. Grouping by fingerprint equals grouping by
    * vector up to those collisions (the t9/s5 oracles group by the
    * vector itself, so a collision would surface as a red row, not
    * silence). Plan shape (exchange keyed on the fingerprint, not the
    * array) is pinned by EmbeddingKeeperSpec.
    */
  def exactKeepers(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        struct(
          xxhash64(col("embedding")).as("h1"),
          xxhash64(lit(1L), col("embedding")).as("h2")).as("efp"))
      .groupBy("efp")
      .agg(min(col("vec_id")).as("vec_id"))
      .select("vec_id")

  /** s5: embedding near-dup GROUPS — connected components over the
    * cosine-verified pairs (the text-side t10 grouping), one keeper id
    * per cluster of same-content embeddings. Memoized per (session, dir)
    * like dupGroups.
    */
  private val embGroupCache = new graft.util.SessionCache[DataFrame]

  def embeddingGroups(s: SparkSession, dir: String): DataFrame =
    embGroupCache.getOrElseUpdate(s, dir) {
      TextOps.groupsOf(embeddingDedup(s, dir), "vec_id")
    }

  /** Mixed-type cosine (float[] column vs literal double[] centroid) as
    * Column-API higher-order functions — the exact same sequential left
    * fold (and therefore IEEE result bits) as the oracle's list_reduce
    * chain, with the centroid constant-folded into codegen.
    */
  private def cosineMixedCol(a: Column, c: Column): Column = {
    val dot = aggregate(zip_with(a, c, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v)
    val na = aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    val nc = aggregate(c, lit(0.0), (acc, v) => acc + v * v)
    dot / (sqrt(na) * sqrt(nc))
  }

  val NProbe = 2

  /** Budget for the literal-centroid plan: beyond ~50k baked expression
    * nodes (k·dim) the PLAN becomes the bottleneck — Catalyst analysis
    * cost and the 64KB generated-method limit — so larger quantizers
    * take the broadcast-join + max_by path instead (partial aggregation;
    * the shuffle carries (vec_id, cell) candidates, never embeddings).
    */
  val LiteralCentroidBudget = 50000

  /** IVF ANN: coarse-quantize each vector to its nearest label centroid
    * (the cell), probe the query's NProbe nearest cells, exact top-k
    * within the probed cells only. Centroid components are rounded to 4
    * decimals so both engines quantize identically. r2's plan joined
    * emb × centroids and ranked with a window over vec_id, exchanging
    * n×k embedding-carrying rows; both current strategies assign cells
    * without that shuffle (see literalCells/joinCells).
    */
  def ivfTopK(s: SparkSession, dir: String, nProbe: Int = NProbe): DataFrame = {
    val cents = collectedCentroids(s, dir)
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    val (assigned, probes) =
      if (cents.length * dim <= LiteralCentroidBudget)
        literalCells(embeddings(s, dir), cents, nProbe)
      else joinCells(s, dir, nProbe)
    topKWithin(assigned, probes)
  }

  /** s6: measured IVF quality — recall of the nProbe-cell search against
    * the s1 brute-force truth. The probe/recall trade-off is the entire
    * point of IVF, so it gets the same treatment t12 gives LSH: both
    * frames reuse the memoized centroid collection, and the compare is
    * ONE action (full-outer join over two tiny top-k frames). Precision is reported too, though for a fixed-k ANN it
    * only drops below recall when probed cells run short of k matches.
    */
  def ivfRecall(s: SparkSession, dir: String, nProbe: Int = NProbe): DataFrame =
    annRecall(s, cosineTopK(s, dir), ivfTopK(s, dir, nProbe), "nprobe", nProbe.toLong, "n_ivf")

  // --------------------------------------- s8: clustered-corpus recall

  /** Clustered synthetic embedding family: the `embeddings` table's
    * near-uniform vectors are IVF's probed-mass worst case (s6 measures
    * 0.36 at nprobe=2), so this family re-derives a LABEL-CORRELATED
    * variant from the same (vec_id, label) rows — dimension `label` gets
    * a +[[ClusterSep]] bump over U(-0.5, 0.5) md5-derived noise — to
    * measure the same oracle-gated recall where cluster structure is
    * REAL. Fully deterministic and reconstructed verbatim by the s8
    * oracle (same md5-bucket idiom as t17).
    */
  val ClusterDim = 16
  val ClusterSep = 3.0

  def clusteredEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val comps = (0 until ClusterDim).map { d =>
      ((TextOps.md5Head8(
        concat(col("vec_id").cast("string"), lit("_" + d))) % 1000)
        .cast("double") / 1000.0 - 0.5 +
        when(col("label") % ClusterDim === d, lit(ClusterSep)).otherwise(lit(0.0)))
        .cast("float")
    }
    embeddings(s, dir)
      .select(col("vec_id"), col("label"), array(comps: _*).as("embedding"))
  }

  // ------------------------------------------- s9: int8 quantization

  /** s9: per-vector affine int8 quantization of the embedding column —
    * the memory-footprint scale path for vector search (codes are 4×
    * smaller than float32; at 10^9 × 64 dims that is 64 GB of codes vs
    * 256 GB of floats, so candidate generation runs on codes in memory
    * and only the exact re-rank touches original vectors). Codes are
    * `round_even((x - min) / ((max - min) / 255))` in double precision
    * (zero-range vectors quantize to all-0), mirrored bit-for-bit by
    * the oracle, and reconstruction quality is MEASURED per vector —
    * max abs error and cosine(original, dequantized) — not asserted.
    * Document-local: one projection, no shuffle beyond the facet sort.
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val e = col("embedding")
    embeddings(s, dir)
      .withColumn("mn", array_min(e).cast("double"))
      .withColumn("mx", array_max(e).cast("double"))
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
      .withColumn("codes",
        when(col("mx") === col("mn"), transform(e, _ => lit(0L)))
          .otherwise(transform(e,
            x => bround((x.cast("double") - col("mn")) / col("scale"), 0).cast("long"))))
      .withColumn("dequant",
        transform(col("codes"), c => col("mn") + c.cast("double") * col("scale")))
      .select(
        col("vec_id"),
        size(col("codes")).cast("long").as("n_dims"),
        md5(concat_ws(",", col("codes"))).as("code_md5"),
        round(aggregate(
          zip_with(e, col("dequant"), (a, b) => abs(a.cast("double") - b)),
          lit(0.0), (acc, x) => greatest(acc, x)), 6).as("max_abs_err"),
        round(cosineMixedCol(e, col("dequant")), 4).as("cos_dequant"))
      .orderBy("vec_id")
  }

  private val clusteredCache = new graft.util.SessionCache[DataFrame]

  /** s8: the s6 measurement on the clustered family — same truth, same
    * IVF path (literal-centroid cells re-derived from the clustered
    * vectors), same recall composition; only the corpus shape differs.
    * Together with s6 this quantifies the README claim that IVF recall
    * at fixed nprobe is a function of cluster purity, not of the
    * operator.
    */
  def ivfRecallClustered(s: SparkSession, dir: String): DataFrame = {
    val emb = clusteredCache.getOrElseUpdate(s, dir) {
      clusteredEmbeddings(s, dir).localCheckpoint()
    }
    val (assigned, probes) = literalCells(emb, centroidsOf(labelCentroidsOf(emb)), NProbe)
    annRecall(s, cosineTopKOn(emb), topKWithin(assigned, probes), "nprobe", NProbe.toLong, "n_ivf")
  }

  /** s6, s7 and s8's row: TextOps.recallOf of the candidate top-k
    * against the truth top-k on (q_id, vec_id), led by the swept knob.
    */
  private def annRecall(s: SparkSession, truthTopK: DataFrame, candTopK: DataFrame,
      labelCol: String, labelValue: Long, candCountCol: String): DataFrame = {
    val (nTruth, nCand, nHits, recall, precision) =
      TextOps.recallOf(truthTopK, candTopK, Seq("q_id", "vec_id"))
    import s.implicits._
    Seq((labelValue, nTruth, nCand, nHits, recall, precision))
      .toDF(labelCol, "n_truth", candCountCol, "n_hits", "recall", "precision")
  }

  /** s7: measured sign-LSH ANN quality — the same recall/precision
    * measurement s6 gives IVF and t12 gives MinHash-LSH, for the s2
    * multi-table path: every ANN path in the engine has its quality
    * quantified against the s1 brute-force truth, not asserted. The
    * truth top-k is memoized (shared with s1/s6) and the candidate side
    * reuses the persisted bucket memo; the compare is one action.
    */
  def lshAnnRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(s, cosineTopK(s, dir), lshTopK(s, dir), "n_tables", NumTables.toLong, "n_lsh")

  /** Shuffle-free cell assignment: centroids baked as literal arrays,
    * argmax via array_max over struct(cos_c, -label) (max cosine, ties
    * to the lowest label — the oracle's ORDER BY cos_c DESC, c_label).
    * Valid while k·dim fits the literal budget; the only exchange left
    * in the whole query is the final top-k window.
    */
  private def literalCells(emb: DataFrame, cents: Array[(Int, Array[Double])],
      nProbe: Int): (DataFrame, DataFrame) = {
    val cands = array(cents.map { case (lbl, vec) =>
      val cvec = array(vec.map(lit(_)): _*)
      struct(cosineMixedCol(col("embedding"), cvec).as("cos_c"),
        lit(-lbl).as("neg_label"))
    }: _*)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      (-array_max(cands).getField("neg_label")).as("cell"))
    // struct comparison is lexicographic (cos_c, neg_label), so sorting
    // descending = cosine desc with ties to the lowest label
    val cellsDesc = array_sort(cands,
      (l, r) => when(l > r, lit(-1)).when(l < r, lit(1)).otherwise(lit(0)))
    val probes = broadcast(
      emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          explode(slice(cellsDesc, 1, nProbe)).as("pc"))
        .withColumn("probe_cell", -col("pc").getField("neg_label"))
        .drop("pc"))
    (assigned, probes)
  }

  /** Large-quantizer cell assignment: broadcast the centroid table and
    * pick each vector's cell with max_by under groupBy(vec_id) — the
    * map-side partial aggregate reduces each partition to one (cos,
    * cell) candidate per vector BEFORE the exchange, so the shuffle
    * carries small rows, never the n×k embedding-carrying join output
    * (the r2 window-ranking plan this family replaced).
    */
  private def joinCells(s: SparkSession, dir: String, nProbe: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val emb = embeddings(s, dir)
    val centDf = broadcast(
      collectedCentroids(s, dir).toSeq.toDF("c_label", "centroid"))
    val scored = emb.join(centDf)
      .withColumn("cos_c", cosineMixedCol(col("embedding"), col("centroid")))
      .withColumn("neg_label", -col("c_label"))
    val assigned = scored
      .groupBy("vec_id")
      .agg((-max_by(col("neg_label"), struct(col("cos_c"), col("neg_label")))).as("cell"))
      .join(emb, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val probes = broadcast(
      scored.filter(col("vec_id") < NumQueries)
        .groupBy(col("vec_id").as("q_id"))
        // ascending sort of (-cos, label) = cosine desc, label asc
        .agg(slice(array_sort(collect_list(struct((-col("cos_c")).as("nc"),
          col("c_label").as("cl")))), 1, nProbe).as("top"))
        .select(col("q_id"), explode(col("top")).as("pc"))
        .withColumn("probe_cell", col("pc").getField("cl"))
        .drop("pc")
        .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), "q_id"))
    (assigned, probes)
  }

  private def topKWithin(assigned: DataFrame, probes: DataFrame): DataFrame =
    rankTopK(assigned.join(probes,
      col("cell") === col("probe_cell") && col("vec_id") =!= col("q_id")))

  /** Test hook: the join-path variant regardless of budget. */
  private[sim] def ivfTopKJoinPath(s: SparkSession, dir: String): DataFrame = {
    val (assigned, probes) = joinCells(s, dir, NProbe)
    topKWithin(assigned, probes)
  }
}
