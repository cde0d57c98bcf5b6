package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic corpus scale-up: replicate an existing test SF `factor`×
  * with key-shifted, statistically-similar replicas, so scale behavior
  * (shuffle sizes, candidate-pair growth, iterative-kernel cost) can be
  * measured beyond the largest driver-provided SF without touching the
  * read-only `/root/testdata`.
  *
  * Replica discipline — a naive copy would DISTORT the workload, not
  * scale it:
  *  - every primary/foreign key shifts by `replica × (max(key)+1)` with
  *    FK consistency (lineitem's orderkey/partkey/suppkey shift with
  *    orders/part/supplier), so join fan-outs stay constant per row;
  *  - `documents.text` gets a per-replica deterministic word SHUFFLE
  *    (sort words by xxhash64(doc_id, replica, position)): the unigram
  *    profile (length, vocabulary, token counts) is preserved while
  *    shingle/minhash similarity across replicas drops to the
  *    random-pair baseline — otherwise every doc would acquire
  *    `factor-1` near-duplicates and the dedup family's candidate pairs
  *    would grow quadratically in `factor` (a data artifact, not an
  *    engine property);
  *  - `embeddings.embedding` gets per-replica deterministic noise
  *    (±0.08/dim, hash-seeded) and is re-normalized to unit length:
  *    same spatial distribution, no cosine-1.0 cross-replica twins (the
  *    kNN/ANN family would otherwise degenerate);
  *  - `events.user_id` shifts per replica (10× data = 10× users, the
  *    realistic axis), `ts` keeps its range (same days, 10× density);
  *  - dimension tables `region`/`nation` copy unchanged.
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>`
  */
object ScaleUp {

  private def replicate(base: DataFrame, factor: Int)(
      per: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(r => per(base, r)).reduce(_.unionByName(_))

  /** The `<factor>` argument: an integer >= 1 (zero replicas would union
    * nothing), else it fails naming the argument and the value.
    */
  private[graft] def replicas(factor: String): Int =
    graft.util.NumericOption.int("factor", Some(factor), 1, min = 1)

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorS) = args
    val factor = replicas(factorS)
    val spark = graft.GraftSession.local(
      graft.GraftSession.cores(default = Runtime.getRuntime.availableProcessors()))

    def tbl(name: String): DataFrame = graft.source.Tables.load(spark, srcDir, name)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")

    // copied dimensions
    Seq("region", "nation").foreach(t => write(tbl(t), t))

    // Stride by max(key)+1, NOT count: count-based shifts are
    // collision-free only when keys are dense 0..n-1 (true of the
    // fixtures, but real TPC-H orderkeys are sparse — max ≫ count —
    // and a count stride would silently collide PKs across replicas
    // and break FK fan-outs). max+1 is safe for any key space.
    def stride(t: String, key: String): Long =
      tbl(t).agg(max(col(key))).head.getLong(0) + 1L
    val nCust = stride("customer", "c_custkey")
    val nSupp = stride("supplier", "s_suppkey")
    val nPart = stride("part", "p_partkey")
    val nOrd = stride("orders", "o_orderkey")
    val nEvt = stride("events", "event_id")
    val nDoc = stride("documents", "doc_id")
    val maxUser = tbl("events").agg(max("user_id")).head.getLong(0)

    write(replicate(tbl("customer"), factor) { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * nCust)) }, "customer")
    write(replicate(tbl("supplier"), factor) { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * nSupp)) }, "supplier")
    write(replicate(tbl("part"), factor) { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * nPart)) }, "part")
    write(replicate(tbl("orders"), factor) { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * nOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(r * nCust)) }, "orders")
    write(replicate(tbl("lineitem"), factor) { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * nOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(r * nPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * nSupp)) }, "lineitem")
    write(replicate(tbl("events"), factor) { (d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * nEvt))
        .withColumn("user_id", col("user_id") + lit(r * (maxUser + 1))) }, "events")

    write(replicate(tbl("documents"), factor) { (d, r) =>
      val shuffled =
        s"""array_join(transform(array_sort(transform(split(text, ' '),
           |  (w, i) -> struct(xxhash64(concat(CAST(doc_id AS STRING), '_',
           |    '$r', '_', CAST(i AS STRING))) AS h, w AS w))),
           |  s -> s.w), ' ')""".stripMargin
      d.withColumn("doc_id", col("doc_id") + lit(r * nDoc))
        .withColumn("text", if (r == 0) col("text") else expr(shuffled))
    }, "documents")

    write(replicate(tbl("embeddings"), factor) { (d, r) =>
      // embeddings align 1:1 with documents on id, so the vec_id shift
      // uses the DOCUMENT count (vec 0..n-1 ↔ doc 0..n-1 per replica)
      val noisy =
        s"""transform(embedding, (x, i) -> CAST(x AS DOUBLE)
           |  + 0.08D * (CAST(xxhash64(concat(CAST(vec_id AS STRING), '_',
           |      '$r', '_', CAST(i AS STRING))) % 1000L AS DOUBLE) / 1000.0D))
           |""".stripMargin
      val renorm =
        """transform(nv, x -> CAST(x /
          |  sqrt(aggregate(nv, 0D, (a, y) -> a + y * y)) AS FLOAT))""".stripMargin
      if (r == 0) d.withColumn("vec_id", col("vec_id"))
      else d
        .withColumn("vec_id", col("vec_id") + lit(r * nDoc))
        .withColumn("nv", expr(noisy))
        .withColumn("embedding", expr(renorm))
        .drop("nv")
    }, "embeddings")

    println(s"[scaleup] wrote ${factor}x of $srcDir to $dstDir")
    spark.stop()
  }
}
