package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic derived-scale fixture generator — a measurement tool,
  * NOT part of the query surface (no registry entry, no oracle): the
  * driver ships testdata up to sf0.1 only, so the round PERF doc's
  * scaling-exponent spot-bench (is the measured cost curve the one the
  * scale-shape Scaladoc claims?) needs a larger input derived from the
  * driver's own tables. Usage:
  *
  *   graft.ScaleGen <srcSfDir> <destDir> <scale> [skew]
  *
  * "Scale N" mirrors what TPC-H's own SF knob does to the purchase
  * graph: N× orders, N× parts, N× documents/events, with per-order
  * basket sizes and per-part popularity DISTRIBUTIONS unchanged —
  * degrees stay constant while nodes and edges grow N×, so a
  * well-shaped operator should measure ~linear and a Σd²-quadratic one
  * only reveals itself under skew (see below).
  *
  *  - lineitem: N copies; copy i shifts l_orderkey by i·ORD_OFF
  *    (orders stay disjoint, basket-size distribution untouched) and
  *    remaps each (order, part) membership's l_partkey to
  *    xxhash64(order', part) mod Q over a PRIME keyspace Q ≥ N·|parts|
  *    — i.e. each order draws its parts ~uniformly from the FULL N×
  *    keyspace, which is literally what TPC-H's own SF knob does
  *    (popularity is uniform): expected per-part degree is unchanged
  *    (N× memberships over N× keys), the degree distribution stays
  *    binomial-shaped like the source's, and the co-purchase graph is
  *    ONE connected fabric. (A per-copy affine PERMUTATION was tried
  *    first and rejected by measurement: 10 size-20k images thrown
  *    into a 200k keyspace collide at load factor 1, merging ~37% of
  *    parts and inflating Σd² 1.9× superlinear — the fixture would
  *    have baked skew into the "linear" baseline.)
  *  - part: spark.range(Q) with attributes joined from the source
  *    table on p mod |parts| — the BFS/centrality seed keys (≤ 5)
  *    exist and are ordinary nodes of the remapped graph.
  *  - documents: N copies, doc_id shifted; copy i's text goes through
  *    a per-copy alphabet ROTATION (translate a..z ↦ rotate-by-i) —
  *    length, word boundaries, and q-gram counts are preserved so
  *    within-copy dup/edit structure replicates exactly, while
  *    cross-copy q-grams differ, so near-dup clusters don't multiply
  *    N× (real corpus growth adds new near-dup families, it does not
  *    grow each existing family N×).
  *  - events: N copies, event_id/user_id shifted (bench warmup reads
  *    it; episode-partitioned ops see N× users of unchanged length).
  *
  * The optional `skew` mode additionally redirects ~0.5% of lineitem
  * part memberships (deterministic xxhash64 coin) onto 20 hub keys.
  * That is the regime the degree-capped square-count twin exists for:
  * hub degree grows with SF, so the exact census's Σ_w d_w² wedge mass
  * bends super-linear while the capped+sampled twin's stays bounded —
  * the PERF doc measures both curves on the same fixture.
  */
object ScaleGen {
  /** Smallest prime ≥ n (n is ~2e5 here; trial division is plenty). */
  private[graft] def nextPrime(n: Long): Long = {
    def isPrime(x: Long): Boolean =
      x > 1 && (2L to math.sqrt(x.toDouble).toLong + 1).forall(x % _ != 0)
    Iterator.from(0).map(n + _).find(isPrime(_)).get
  }

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"
  private def rotated(i: Int): String = {
    val k = i % Alphabet.length
    Alphabet.substring(k) + Alphabet.substring(0, k)
  }

  /** Union of `scale` deterministic copies of `df`, transformed per
    * copy index. */
  private def copies(df: DataFrame, scale: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until scale).map(i => f(df, i)).reduce(_ unionByName _)

  def generate(spark: SparkSession, srcDir: String, destDir: String,
      scale: Int, skew: Boolean): Unit = {
    val li = Tables.lineitem(spark, srcDir)
    val nParts = Tables.part(spark, srcDir).count()
    val ordOff = li.agg(max(col("l_orderkey"))).collect()(0).getLong(0) + 1
    val q = nextPrime(scale * nParts)

    // Per-membership uniform draw over the N× keyspace, keyed on the
    // SHIFTED order + source part so a repeated (order, part) lineitem
    // stays one membership after the downstream distinct.
    def remap(p: Column, ord: Column): Column =
      pmod(xxhash64(ord, p, lit(77L)), lit(q))

    def hubbed(p: Column, ord: Column): Column =
      if (!skew) remap(p, ord)
      else when(pmod(xxhash64(ord, p), lit(1000L)) < 5L,
        pmod(xxhash64(ord, p, lit(17L)), lit(20L)))
        .otherwise(remap(p, ord))

    copies(li, scale) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordOff))
        .withColumn("l_partkey", hubbed(col("l_partkey"), col("l_orderkey")))
    }.repartition(32)
      .write.mode("overwrite").parquet(s"$destDir/lineitem.parquet")

    Tables.part(spark, srcDir)
      .withColumnRenamed("p_partkey", "src_key")
      .join(spark.range(q).select(col("id").as("p_partkey"),
          pmod(col("id"), lit(nParts)).as("src_key")),
        Seq("src_key"))
      .drop("src_key")
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$destDir/part.parquet")

    val docs = Tables.documents(spark, srcDir)
    val docOff = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
    copies(docs, scale) { (d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i * docOff))
        .withColumn("text", translate(col("text"), Alphabet, rotated(i)))
    }.repartition(8)
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")

    // embeddings: N copies, vec_id shifted; copy i>0 perturbs every
    // element by a deterministic ±5e-3 hash-uniform jitter (xxhash64 of
    // (vec_id, dim, copy) — no rand(): retried tasks must reproduce the
    // row, SPARK-38388). Cluster geometry is preserved (measured on the
    // sf0.1 fixture: label centroids sit ≥0.087 apart in L2 while the
    // jitter moves a 64-dim vector by ~0.02), so IVF/kNN structure
    // replicates per copy the way real corpus growth adds new points
    // inside existing clusters, while no cross-copy vector is an exact
    // duplicate (which would trivialize dedup-by-vector twins).
    val emb = Tables.embeddings(spark, srcDir)
    val vecOff = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    copies(emb, scale) { (d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * vecOff))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else expr(s"""transform(embedding, (x, j) ->
            CAST(x + (pmod(xxhash64(vec_id, j, ${i}L), 10001L) - 5000L)
                     / 1000000.0D AS FLOAT))"""))
    }.repartition(8)
      .write.mode("overwrite").parquet(s"$destDir/embeddings.parquet")

    val ev = Tables.events(spark, srcDir)
    val evOff = ev.agg(max(col("event_id")), max(col("user_id")))
      .collect()(0)
    copies(ev, scale) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * (evOff.getLong(0) + 1)))
        .withColumn("user_id", col("user_id") + lit(i * (evOff.getLong(1) + 1)))
    }.repartition(8)
      .write.mode("overwrite").parquet(s"$destDir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val destDir = args(1)
    val scale = args(2).toInt
    val skew = args.length > 3 && args(3) == "skew"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.local(cpus, cpus)
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, srcDir, destDir, scale, skew)
    println(s"[scalegen] wrote scale=$scale skew=$skew fixture to $destDir")
    spark.stop()
  }
}
