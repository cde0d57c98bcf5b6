package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Similarity search over the embedding column (LLM-pipeline north star).
  *
  * Cross-engine determinism: both Spark's `aggregate(zip_with(a,b,*),0D,+)`
  * and DuckDB's `list_dot_product` reduce left-to-right in double precision,
  * so after casting the float32 inputs to double the cosine values are
  * bit-identical — rounding to 6 decimals is belt-and-braces, not a fudge.
  *
  * Scale story per query:
  *  - q44 near-dup: label-blocked pair join (equi-join on the block key);
  *    at 100 TB the block key becomes an LSH bucket so block sizes stay
  *    bounded.
  *  - q45 brute-force top-k: the query set is broadcast, candidate scoring
  *    is map-side over the big table, and the per-query top-k is a
  *    TakeOrdered-style aggregation — the full similarity matrix is never
  *    materialized.
  *  - q46 LSH ANN: sign-bit bucketing under seeded random hyperplanes
  *    turns the cross join into an equi-join on the bucket id — the scale
  *    path when the query set is itself large.
  *  - q53 IVF ANN: coarse-quantizer cells + probed re-rank — the
  *    inverted-file layout ANN services use at corpus scale.
  */
object Similarity {

  private type Q = (SparkSession, String) => DataFrame

  /** Double-cast vector column (float32 → float64 before any arithmetic,
    * matching the oracle's `embedding::DOUBLE[]`).
    */
  // CAST on the array is codegen'd; a transform() lambda is not
  private val vd = "CAST(embedding AS array<double>)"

  /** The engine's native codegen'd expression (registered by
    * [[graft.plans.GraftExtensions]]); semantically identical to the
    * higher-order-function formulation
    * `aggregate(zip_with(a,b,(x,y)->x*y),0D,+) / (|a||b|)` but compiles to
    * one primitive loop (no per-element lambda dispatch).
    */
  private def cosExpr(a: String, b: String): String = s"cosine_sim($a, $b)"

  private val duckCos =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** Oracle twin of [[planeCountFor]] + [[planeLits]] — the corpus-size-
    * derived plane count (`nplanes`, integer-exact twin of the Scala
    * formula) and the seeded sign matrix for exactly that many planes.
    * Single-sourced here so every oracle consumer derives p the one way.
    */
  private[ops] val planesCteSql =
    """nplanes AS (SELECT GREATEST(4, (
      |    SELECT count(*) FROM generate_series(0, 30) AS g(g)
      |    WHERE CAST(power(2, g.g + 11) AS BIGINT) < (SELECT count(*) FROM embeddings))) AS np),
      |planes AS (
      |  SELECT t.p, list_transform(generate_series(1,64), j ->
      |    CASE WHEN CAST(('0x' || substr(md5(t.p::VARCHAR || '_' || j::VARCHAR), 1, 1)) AS INTEGER) % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS s
      |  FROM nplanes, unnest(generate_series(0, np - 1)) AS t(p))""".stripMargin

  /** Oracle twin of the hyperplane bucketing — the CTE chain shared by
    * q57Sql/q136Sql/q155Sql/q158Sql/q160Sql so the bucketing definition
    * cannot drift between consumers. (Declared before every consumer:
    * object vals initialize in order.)
    */
  private val bucketPairCtes =
    s"""$planesCteSql,
       |e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bits AS (
       |  SELECT e0.vec_id, planes.p,
       |    CASE WHEN list_dot_product(e0.v, planes.s) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM e0 CROSS JOIN planes),
       |buckets AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
       |  FROM bits GROUP BY vec_id),
       |e AS (SELECT e0.vec_id, e0.v, b.bucket FROM e0 JOIN buckets b USING (vec_id))""".stripMargin

  /** In-bucket all-directed-pairs scoring CTE shared by q136Sql and
    * q160Sql — one definition of the kNN candidate set. `private[ops]`:
    * Retrieval's composed pipeline (q295) seeds its PPR expansion over
    * the same graph, so its oracle must share this chain verbatim.
    * NOTE: the chain defines `e0 AS (SELECT vec_id, embedding::DOUBLE[]
    * AS v FROM embeddings)` — a consumer WITH-list must not redefine it.
    */
  private[ops] val knnScoredCtes =
    s"""$bucketPairCtes,
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id, round($duckCos, 6) AS cos_sim
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)""".stripMargin

  /** q44 — embedding-cosine near-duplicates within label blocks, LSH-
    * bounded: the pair join's block key is (label, hyperplane bucket), an
    * equi-join on a composite key whose per-block size the HASH bounds
    * (2^p-way, p corpus-derived via planesFor: doubling the corpus adds a plane), never the label alone.
    * A bare `label` block is scale-risky — one dominant label makes the
    * block quadratic at 100×. Label stays in the key because "near-dups
    * within a class" is the declared semantics; the bucket is what makes
    * it safe. The unlabeled twin is q57; the recall trade (bucket-split
    * true pairs) is intrinsic to LSH blocking and audited by q125's
    * recall harness on the ANN side.
    */
  private val q44: Q = (s, dir) => {
    val e = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("label"), expr(vd).as("v"))
      .withColumn("bucket", expr(hyperplaneBucket("v", planesFor(s, dir))))
      // self-joined: bucket signatures computed once. NOT pre-partitioned
      // by (label, bucket): the key's cardinality is bounded (2^p buckets ×
      // few labels), so a cache partitioned on it would cap parallelism at
      // that cardinality and bypass AQE's skew-split on the join exchange —
      // cache-aligned partitioning is only right for UNBOUNDED keys
      // (doc_id, gram, band-hash)
      .transform(graft.util.QueryCaches.tracked)
    val a = e.as("a")
    val b = e.as("b")
    a.join(b, col("a.label") === col("b.label") &&
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(expr(cosExpr("a.v", "b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
      .orderBy("vec_a", "vec_b")
  }

  private val q44Sql =
    s"""WITH $planesCteSql,
       |e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |bits AS (
       |  SELECT e0.vec_id, planes.p,
       |    CASE WHEN list_dot_product(e0.v, planes.s) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM e0 CROSS JOIN planes),
       |buckets AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
       |  FROM bits GROUP BY vec_id),
       |e AS (SELECT e0.vec_id, e0.label, e0.v, b.bucket FROM e0 JOIN buckets b USING (vec_id))
       |SELECT vec_a, vec_b, cos_sim FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         round($duckCos, 6) AS cos_sim
       |  FROM e a JOIN e b ON a.label = b.label AND a.bucket = b.bucket
       |                    AND a.vec_id < b.vec_id) t
       |WHERE cos_sim >= 0.35
       |ORDER BY vec_a, vec_b""".stripMargin

  /** q45 — brute-force cosine top-k: 5 broadcast query vectors scored
    * against every row map-side; the per-query top-10 is a bounded
    * [[graft.functions.TopKByScore]] aggregation (partial+final), NOT a
    * ranking window — a window would shuffle every scored row to one
    * reducer per query, while the aggregator's map-side partials cap the
    * exchange at k rows per partition per query.
    */
  private val q45: Q = (s, dir) => {
    val topk = udaf(new graft.functions.TopKByScore(10))
    val e = Tables.spread(Tables.embeddings(s, dir)).select(col("vec_id"), expr(vd).as("v"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr(cosExpr("qv", "v")), 6).as("cos_sim"))
      .groupBy("query_id")
      .agg(topk(col("cos_sim"), col("vec_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val q45Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         round(list_dot_product(q.qv, e.v)
       |           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6)
       |           AS cos_sim
       |  FROM q JOIN e ON e.vec_id <> q.query_id)
       |SELECT query_id, vec_id, cos_sim, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** Seeded random-hyperplane sign matrix for the LSH family: `p` planes
    * × 64 dims of Rademacher ±1, each sign the hex-value parity of
    * `md5("{plane}_{dim}")`'s first nibble. md5 is the one hash both
    * engines share, so the DuckDB oracle derives the SAME matrix in SQL
    * while the Spark side bakes it in as a LITERAL nested array — the
    * "trained" LSH model a real deployment would broadcast — keeping
    * bucketing map-side with zero per-row hashing. Plane i's row never
    * depends on p, so matrices for different plane counts are prefixes of
    * one another — raising p refines every existing bucket rather than
    * reshuffling it.
    */
  private val planeLitCache = scala.collection.concurrent.TrieMap.empty[Int, Seq[String]]
  private[graft] def planeLits(p: Int): Seq[String] =
    planeLitCache.getOrElseUpdate(p, {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until p).map { pl =>
        (1 to 64).map { j =>
          md.reset()
          val hex = md.digest(s"${pl}_$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
          if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) "1.0D" else "-1.0D"
        }.mkString("array(", ",", ")")
      }
    })

  private[graft] def hyperplaneLit(p: Int): String =
    planeLits(p).mkString("array(", ",", ")")

  /** Corpus-size-derived plane count: the number of doublings of
    * [[TargetBlockLog2]]'s 2048-row target block that the corpus exceeds,
    * floored at 4 so tiny corpora keep a nontrivial hash. Pure integer
    * arithmetic — `2^(g+11) < n` — so the oracle's `nplanes` CTE (same
    * comparison via `CAST(power(2, g+11) AS BIGINT)`, exact since
    * g+11 ≤ 41 powers of two are exactly representable) derives the
    * IDENTICAL value with no FP-boundary risk. Doubling the corpus adds
    * one plane, so expected in-bucket block size stays ~2048 at any
    * scale: the in-bucket pair joins are Θ(n · 2048), not Θ((n/16)²) —
    * the parameterization that survives a 100× scale-up.
    */
  private[graft] val TargetBlockLog2 = 11 // 2048-row target in-bucket block
  private[graft] def planeCountFor(n: Long): Int =
    math.max(4, (0 to 30).count(g => (1L << (g + TargetBlockLog2)) < n))

  private val planesForCache = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Plane count for the embeddings corpus at `dir`, derived once per
    * (application, dir) from a `count(*)` parquet answers out of footer
    * row-group metadata — the one driver-side action the "trained"
    * blocking model costs, same discipline as q124's trained quantizer.
    */
  private[graft] def planesFor(s: SparkSession, dir: String): Int =
    planesForCache.getOrElseUpdate(s"${s.sparkContext.applicationId}|$dir",
      planeCountFor(Tables.embeddings(s, dir).count()))

  /** Sign-bit bucket of a 64-dim double vector column under
    * [[planeLits]]: bit p = (v · plane_p) > 0. For non-zero vectors the
    * plane norms are positive, so sign(dot) == sign(cosine) — computed
    * through the native codegen'd `cosine_sim` expression instead of
    * interpreted zip_with/aggregate lambdas (4×64 lambda dispatches per
    * row on the old form; one primitive loop per plane now). A ZERO-norm
    * vector makes cosine_sim 0/0 = NaN, and Spark orders NaN above every
    * number (so `NaN > 0` is true) while the dot-product oracle yields 0
    * — `nanvl(·, 0)` forces the NaN to bit '0' on both engines with a
    * SINGLE cosine evaluation per plane (an isnan-guard form would
    * evaluate the 64-element loop twice unless subexpression elimination
    * happens to fire).
    */
  private[graft] def hyperplaneBucket(vcol: String, p: Int): String =
    planeLits(p).map(pl => s"IF(nanvl(cosine_sim($vcol, $pl), 0D) > 0, '1', '0')")
      .mkString("concat(", ", ", ")")

  /** q46 — LSH-bucketed ANN: bucket = sign bits under 4 seeded random
    * hyperplanes (2^p buckets, p corpus-derived); candidates share the query's bucket; top-5
    * per query. The cross join of q45 becomes an equi-join on `bucket`.
    */
  private val q46: Q = (s, dir) => {
    val topk = udaf(new graft.functions.TopKByScore(5))
    val e = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), expr(vd).as("v"))
      .withColumn("bucket", expr(hyperplaneBucket("v", planesFor(s, dir))))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket"))
    e.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("bucket"),
        round(expr(cosExpr("qv", "v")), 6).as("cos_sim"))
      .groupBy("query_id")
      // bucket is group-constant (candidates share the query's bucket)
      .agg(topk(col("cos_sim"), col("vec_id")).as("tk"), max("bucket").as("bucket"))
      .select(col("query_id"), col("bucket"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("vec_id"), col("bucket"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val q46Sql =
    s"""WITH $planesCteSql,
       |e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bits AS (
       |  SELECT e0.vec_id, planes.p,
       |    CASE WHEN list_dot_product(e0.v, planes.s) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM e0 CROSS JOIN planes),
       |buckets AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
       |  FROM bits GROUP BY vec_id),
       |e AS (SELECT e0.vec_id, e0.v, b.bucket FROM e0 JOIN buckets b USING (vec_id)),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, e.vec_id, e.bucket,
       |         round(list_dot_product(q.qv, e.v)
       |           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6)
       |           AS cos_sim
       |  FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.query_id)
       |SELECT query_id, vec_id, bucket, cos_sim, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** q53 — IVF (inverted-file) ANN, the coarse-quantizer scale path beyond
    * q46's hyperplane LSH: assign every vector to its nearest of 8 coarse
    * cells, probe each query's 2 nearest cells, re-rank candidates exactly.
    *
    * Scale shape: the "trained" quantizer (here: the first 8 vectors, a
    * deterministic stand-in for k-means centroids) is a tiny broadcast
    * relation — assignment is a broadcast join + map-side argmax
    * (`max_by` over a (cos, -cell) struct = partial-aggregated, shuffle
    * carries one row per vector). Probing touches only the candidates in
    * nprobe/ncells of the corpus; the per-query top-5 is the bounded
    * [[graft.functions.TopKTagged]] aggregation. No all-pairs scoring
    * anywhere — the brute-force q45 becomes a probed subset scan.
    */
  /** Embedding relation (vec_id, v: double[64]) shared by the IVF family. */
  private def embVecs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.embeddings(s, dir)).select(col("vec_id"), expr(vd).as("v"))

  /** Seed quantizer: the first 8 vectors — the deterministic untrained
    * stand-in a pipeline starts from before any Lloyd iterations.
    */
  private def seedCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8).select(col("vec_id").as("cell"), col("v").as("cv"))

  /** Nearest-cell assignment under a broadcast quantizer, wholly MAP-SIDE
    * (r14, guide §2.4 remove shuffles outright): the quantizer collapses
    * to a ONE-row broadcast array of (cell, cv) structs and each vector
    * picks its cell with `array_max` over (cs, -cell, cell) structs — the
    * same lexicographic (cos desc, cell asc) order the former
    * `max_by(cell, struct(cs, -cell))` used, and the winner's `cs` IS
    * `max(cs)`. The former broadcast-join + groupBy(vec_id) re-shuffled
    * every vector (with its 64-double payload) purely to reunite rows the
    * broadcast join itself had fanned out; now nothing about assignment
    * crosses the network. Shared by q53/q124/q126/q128/q161/q174/q202.
    */
  private def assignCells(e: DataFrame, cent: DataFrame): DataFrame = {
    val cents = cent.agg(
      sort_array(collect_list(struct(col("cell"), col("cv")))).as("cents"))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"),
        array_max(transform(col("cents"), c =>
          struct(round(call_function("cosine_sim", col("v"),
            c.getField("cv")), 6).as("cs"),
            (-c.getField("cell")).as("nc"),
            c.getField("cell").as("cell")))).as("m"))
      // empty-quantizer guard: the old inner join yielded zero rows there
      .filter(col("m").isNotNull)
      .select(col("vec_id"), col("m.cell").as("cell"), col("v"),
        col("m.cs").as("cs"))
  }

  /** One Lloyd step from the seed quantizer: per-(cell,dim) exact integer
    * means (q115's determinism discipline), re-assembled into centroid
    * vectors. This IS q124's training math — q126 feeds it back into the
    * index, closing the train → index → audit loop.
    */
  private def trainedCentroids(e: DataFrame): DataFrame =
    // keyed on the analyzed input plan: q126/q127/q174/q175 all consume
    // the same trained quantizer — in a composed (undrained) job the
    // Lloyd step runs once, not once per index query
    graft.util.QueryCaches.keyed(
      s"ivf:trained:${e.queryExecution.analyzed.semanticHash()}") {
      trainedCentroidsBuild(e)
    }

  private def trainedCentroidsBuild(e: DataFrame): DataFrame =
    assignCells(e, seedCentroids(e))
      .select(col("cell"), posexplode(col("v")))
      .select(col("cell"), (col("pos") + 1).as("dim"),
        expr("CAST(round(col * 1e7) AS BIGINT)").as("xq"))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n"), sum("xq").as("s1q"))
      .select(col("cell"), col("dim"), expr("CAST(s1q AS DOUBLE) / (n * 1e7)").as("mean"))
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("dim"), col("mean")))).as("dm"))
      .select(col("cell"), expr("transform(dm, x -> x.mean)").as("cv"))

  /** IVF search given a quantizer relation: assign → probe the 2 nearest
    * cells per query → exact re-rank of candidates only (bounded
    * [[graft.functions.TopKTagged]]). The quantizer is always tiny and
    * broadcast; no all-pairs scoring anywhere.
    */
  private def ivfTopK(e: DataFrame, cent: DataFrame, nprobe: Int = 2): DataFrame = {
    val topkCells = udaf(new graft.functions.TopKByScore(nprobe))
    val topk = udaf(new graft.functions.TopKTagged(5))
    val assign = assignCells(e, cent)
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probes = q.join(broadcast(cent))
      .select(col("query_id"), col("qv"), col("cell"),
        round(expr(cosExpr("qv", "cv")), 6).as("cs"))
      .groupBy("query_id")
      .agg(topkCells(col("cs"), col("cell")).as("pc"), first(col("qv")).as("qv"))
      .select(col("query_id"), col("qv"), explode(col("pc.id")).as("cell"))
    assign.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cell"),
        round(expr(cosExpr("qv", "v")), 6).as("cos_sim"))
      .groupBy("query_id")
      .agg(topk(col("cos_sim"), col("vec_id"), col("cell")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("vec_id"), col("col.tag").as("cell"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val q53: Q = (s, dir) => {
    val e = embVecs(s, dir)
    ivfTopK(e, seedCentroids(e))
  }

  /** q126 — the composed pipeline: IVF search over the quantizer q124
    * TRAINED (one Lloyd step), not the raw seed vectors. Same bounded
    * dataflow as q53 — the trained quantizer is still a ≤8-row broadcast;
    * only the cell geometry improved. q127 audits the recall gain.
    */
  private val q126: Q = (s, dir) => {
    val e = embVecs(s, dir)
    ivfTopK(e, trainedCentroids(e))
  }

  /** Composable IVF CTE chain: embedding scan → quantizer → assignment →
    * probes → exact re-rank, ending in the ranked `ann0` relation (top-5
    * per query). `centDefs` must end by defining `cent(cell, cv)` — the
    * seed quantizer or the trained one. q53/q125/q126/q127 all compose
    * this one block, so the oracle can never drift from the pipeline
    * (replaces the earlier fragile string-replace surgery on q53Sql).
    */
  private def ivfCteBlock(centDefs: String, nprobe: Int = 2): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$centDefs,
       |assign AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |probes AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT q.query_id, q.qv, c.cell,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(list_dot_product(q.qv, c.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cent c) t WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id, a.cell,
       |    round(list_dot_product(p.qv, a.v) / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cos_sim
       |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |ann0 AS (SELECT query_id, vec_id, cell, cos_sim, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored) t WHERE rank <= 5)""".stripMargin

  private val seedCentSql =
    "cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8)"

  /** One Lloyd step in SQL — the exact twin of [[trainedCentroids]]:
    * seed-assign, per-(cell,dim) integer-sum means, vectors re-assembled
    * in dim order.
    */
  private val trainedCentSql =
    """tr_assign AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT e.vec_id, e.v, c.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cell) AS rn
      |    FROM e CROSS JOIN (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8) c) t
      |  WHERE rn = 1),
      |tr_m AS (SELECT cell, CAST(i AS INTEGER) AS dim,
      |    CAST(CAST(sum(CAST(round(v[i] * 1e7) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |      / (count(*) * 1e7) AS mean
      |  FROM tr_assign, unnest(generate_series(1, 64)) AS t(i) GROUP BY 1, 2),
      |cent AS (SELECT cell, list(mean ORDER BY dim) AS cv FROM tr_m GROUP BY cell)""".stripMargin

  private val ivfSelect =
    "SELECT query_id, vec_id, cell, cos_sim, rank FROM ann0 ORDER BY query_id, rank"

  private val q53Sql = s"WITH ${ivfCteBlock(seedCentSql)}\n$ivfSelect"
  private val q126Sql = s"WITH ${ivfCteBlock(trainedCentSql)}\n$ivfSelect"

  /** q202 — IVF cell-balance audit: the trained quantizer's assignment
    * histogram with each cell's share and its load factor vs the ideal
    * N/k — the index-health number that decides whether nprobe (q185's
    * dial) can be small: a 10× overloaded cell makes every probe into
    * it scan 10× the candidates, and an empty cell is wasted training.
    * Complements q124 (centroid shift), q161 (PQ distortion), and
    * q128 (quantization quality) to close the index-audit family.
    * One broadcast-quantizer assignment pass (the q53 shape), a ≤k-row
    * aggregate, and a 1-row total broadcast — all exact integers until
    * the two final divisions.
    */
  private val q202: Q = (s, dir) => {
    val e = embVecs(s, dir)
    val counts = assignCells(e, trainedCentroids(e))
      .groupBy("cell").agg(count(lit(1)).as("n_members"))
    val tot = counts.agg(sum("n_members").as("n_vecs"),
      count(lit(1)).as("n_cells"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_members"),
        (col("n_members").cast("double") / col("n_vecs")).as("share"),
        (col("n_members").cast("double") * col("n_cells") / col("n_vecs"))
          .as("load_factor"))
      .orderBy("cell")
  }

  private val q202Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$trainedCentSql,
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |counts AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
       |  FROM assign GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_members) AS BIGINT) AS n_vecs,
       |    CAST(count(*) AS BIGINT) AS n_cells FROM counts)
       |SELECT cell, n_members,
       |  CAST(n_members AS DOUBLE) / n_vecs AS share,
       |  CAST(n_members AS DOUBLE) * n_cells / n_vecs AS load_factor
       |FROM counts CROSS JOIN tot
       |ORDER BY cell""".stripMargin

  /** q57 — embedding near-duplicates within LSH buckets: q44's semantics
    * with the label block replaced by the seeded hyperplane bucket — the
    * concrete 100 TB path q44's doc promises. Pair generation is an
    * equi-join on the 2^p-way bucket id, so block sizes are bounded by the
    * hash (add planes to shrink them), never by a data-dependent label.
    */
  /** Sort-free LSH-bucketed near-dup pairs — q57 adds the oracle's total
    * ORDER BY; q129 consumes the pairs as cluster edges.
    */
  private def bucketNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), expr(vd).as("v"))
      .withColumn("bucket", expr(hyperplaneBucket("v", planesFor(s, dir))))
      // self-joined: bucket signatures computed once. NOT pre-partitioned
      // by the bounded-cardinality bucket (2^p key — see q44's note: it would cap
      // parallelism and bypass AQE skew-splitting)
      .transform(graft.util.QueryCaches.tracked)
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(expr(cosExpr("a.v", "b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
  }

  private val q57: Q = (s, dir) =>
    bucketNearDupPairs(s, dir).orderBy("vec_a", "vec_b")

  /** q136 — bounded k-NN graph over the whole corpus: every vector's top-3
    * in-bucket neighbors by cosine — the adjacency structure behind
    * graph-based semantic dedup (q129 consumes threshold edges of the same
    * join), diversity sampling, and label propagation. Pair generation is
    * q57's hash-bounded equi-join on the 2^p-way hyperplane bucket (both
    * directions here, since each vector ranks its own neighbors; bucket
    * signatures computed once via the tracked cache). Per-vector top-k is
    * the bounded [[graft.functions.TopKByScore]] partial+final aggregation
    * — the shuffle after scoring carries at most k rows per (vector,
    * map task), never a ranking window over every scored pair. Recall
    * tunes the documented q46/q57 way: more planes shrink blocks, probing
    * neighbor buckets raises recall at linear extra cost. Vectors alone in
    * their bucket have no in-bucket neighbors and are absent by definition
    * on both engines.
    */
  /** Shared sort-free kNN kernel: q136 adds the declared ORDER BY; q160
    * (label consistency), q181 (PageRank), and q191 (hubness) consume
    * the edges. Keyed-shared: the in-bucket pair join is the expensive
    * stage all four pay, so within an undrained (composed) session it
    * builds ONCE — the cluster-relation registry pattern applied to the
    * graph family.
    */
  private[graft] def knnNeighbors(s: SparkSession, dir: String): DataFrame =
    graft.util.QueryCaches.keyed(s"knn:neighbors:$dir") {
      knnNeighborsBuild(s, dir)
    }

  private def knnNeighborsBuild(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKByScore(3))
    val e = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), expr(vd).as("v"))
      .withColumn("bucket", expr(hyperplaneBucket("v", planesFor(s, dir))))
      // NOT pre-partitioned by the bounded 2^p-way bucket (q44's note:
      // would cap parallelism and bypass AQE skew-splitting)
      .transform(graft.util.QueryCaches.tracked)
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nb"),
        round(expr(cosExpr("a.v", "b.v")), 6).as("cs"))
      .groupBy("vec_id")
      .agg(topk(col("cs"), col("nb")).as("tk"))
      .select(col("vec_id"), posexplode(col("tk")))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast("int").as("rank"))
  }

  private val q136: Q = (s, dir) => knnNeighbors(s, dir).orderBy("vec_id", "rank")

  private val q136Sql =
    s"""WITH $knnScoredCtes
       |SELECT vec_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

  /** q129 — embedding-dedup cluster resolution: the survivor-selection
    * stage over q57's verified near-dup pairs, the same composition q56
    * runs on the text side — connected components (min-label propagation
    * with pointer jumping, [[TextDedup.connectedComponents]]) over the
    * cos ≥ 0.4 edge set (a tighter bar than q57's 0.35 retrieval threshold); `is_canonical` marks the vector each cluster
    * keeps. Same scale shape as q56: edges persisted once, two narrow
    * equi-joins + a groupBy-min per O(log d) round.
    */
  /** Resolved embedding duplicate clusters (doc_id, label) — the
    * semantic twin of [[TextDedup.lexicalClusters]], shared through the
    * same keyed registry so q129 and q167 pay the CC pipeline once per
    * undrained session.
    */
  private[graft] def embedClusters(s: SparkSession, dir: String): DataFrame =
    graft.util.QueryCaches.keyed(s"cc:embed:$dir") {
      TextDedup.connectedComponents(bucketNearDupPairs(s, dir)
        .filter(col("cos_sim") >= 0.4).select("vec_a", "vec_b"))
    }

  private val q129: Q = (s, dir) =>
    embedClusters(s, dir)
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"),
        (col("label") === col("doc_id")).as("is_canonical"))
      .orderBy("vec_id")

  private val q57Sql =
    s"""WITH $bucketPairCtes
       |SELECT vec_a, vec_b, cos_sim FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         round($duckCos, 6) AS cos_sim
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
       |WHERE cos_sim >= 0.35
       |ORDER BY vec_a, vec_b""".stripMargin

  /** q155 — paraphrase mining: pairs that are semantically CLOSE
    * (embedding cosine ≥ 0.35, via q57's hash-bounded hyperplane-bucket
    * pair join) but lexically DISTANT (exact 3-shingle Jaccard < 0.2) —
    * the "same meaning, different words" candidates. This is the dual of
    * near-dup dedup: dedup drops semantic+lexical twins; paraphrase pairs
    * are what augmentation, contrastive training, and retrieval-eval sets
    * mine FOR, and they are also the semantically-redundant-but-
    * lexically-novel mass that q140's SemDeDup removes and q41/q43
    * (lexical dedup) structurally cannot see.
    *
    * Scale shape: candidates only from the bucket equi-join (never
    * all-pairs); the shingle-set relation persists partitioned on doc_id
    * so both pair-join sides read one exchange; the Jaccard verify runs
    * on candidates only. If BOTH docs have no shingles (< 3 words) the
    * ratio is undefined and the pair drops on both engines (Spark NaN
    * and DuckDB NULL both fail `< 0.2`) — a one-sided empty set scores
    * 0 and is kept, identically.
    */
  private val q155: Q = (s, dir) => {
    val pairs = bucketNearDupPairs(s, dir)
    val sets = Tables.documents(s, dir).repartition(col("doc_id"))
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), array_distinct(expr(TextDedup.shinglesExpr(3))).as("sh"))
      .transform(graft.util.QueryCaches.tracked)
    val inter = size(array_intersect(col("sha"), col("shb")))
    pairs
      .join(sets.select(col("doc_id").as("vec_a"), col("sh").as("sha")), "vec_a")
      .join(sets.select(col("doc_id").as("vec_b"), col("sh").as("shb")), "vec_b")
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("cos_sim"),
        round(inter.cast("double") /
          (size(col("sha")) + size(col("shb")) - inter), 4).as("jaccard"))
      .filter(col("jaccard") < 0.2)
      .orderBy("doc_a", "doc_b")
  }

  private val q155Sql =
    s"""WITH $bucketPairCtes,
       |cand AS (SELECT doc_a, doc_b, cos_sim FROM (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       |         round($duckCos, 6) AS cos_sim
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
       |  WHERE cos_sim >= 0.35),
       |w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
       |shx AS (SELECT doc_id,
       |  CASE WHEN len(words) < 3 THEN [] ELSE
       |    list_transform(generate_series(1, len(words)-2), i ->
       |      words[i] || ' ' || words[i+1] || ' ' || words[i+2]) END AS shingles
       |  FROM w),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sh FROM shx)
       |SELECT * FROM (
       |  SELECT doc_a, doc_b, cos_sim,
       |    round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
       |      AS jaccard
       |  FROM cand JOIN sets sa ON sa.doc_id = doc_a
       |            JOIN sets sb ON sb.doc_id = doc_b) t
       |WHERE jaccard < 0.2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q51 — per-label centroid via the typed [[graft.functions.VectorCentroid]]
    * `Aggregator` (partial+final aggregation: shuffle carries one
    * (sums, count) per label per map task, not the vectors).
    *
    * Output is exploded to one `(label, dim, mean)` row per dimension: the
    * verification harness compares sorted scalar columns, and an
    * `array<double>` column is unsortable on the oracle side. Numerically
    * this is the same centroid — just in long form.
    */
  private val q51: Q = (s, dir) => {
    val centroid = udaf(graft.functions.VectorCentroid)
    Tables.embeddings(s, dir)
      .groupBy("label")
      .agg(centroid(col("embedding")).as("raw"))
      .select(col("label"), posexplode(col("raw")))
      .select(col("label"), (col("pos") + 1).as("dim"), round(col("col"), 6).as("mean"))
      .orderBy("label", "dim")
  }

  private val q51Sql =
    """SELECT label, CAST(i AS INTEGER) AS dim, round(avg(embedding[i]::DOUBLE), 6) AS mean
      |FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
      |GROUP BY label, i ORDER BY label, dim""".stripMargin

  /** q115 — centroid-separation matrix: pairwise Euclidean distance
    * between per-label centroids, the cluster-quality audit run before
    * trusting labels for blocking (q44) or IVF routing (q53). Everything
    * reduces BEFORE any pairing: vectors → per-(label, dim) integer sums
    * (one shuffle over (label, dim) keys, partial map-side combine), so
    * the pairwise stage sees `labels × dims` rows, never vectors — at
    * 100 TB the quadratic term is over the handful of labels only.
    * Determinism: per-element values are quantized to ints before the sum;
    * means are exact-int ratios; each dim's squared difference is
    * re-quantized before the cross-dim sum — no float-order sensitivity
    * anywhere (SURVEY §5).
    */
  /** Per-(label, dim) exact integer sums and the derived centroid mean —
    * q115's reduction discipline, shared with q166's cohesion audit.
    */
  private def labelDimMeans(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        expr("CAST(round(CAST(col AS DOUBLE) * 1e7) AS BIGINT)").as("xq"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("xq").as("s1q"))
      .withColumn("mean", expr("CAST(s1q AS DOUBLE) / (n * 1e7)"))

  /** q188 — embedding-distribution drift monitor: the corpus split into
    * two pseudo-snapshots by a stable digest-mod on vec_id (q154's split
    * discipline, 50/50), then per label the cosine between the two
    * halves' centroids plus both member counts — the continuous-ingest
    * health check that catches an embedding-model change, a source
    * distribution shift, or a pipeline bug between snapshots (drift_cos
    * near 1 = stable class geometry; low = the class moved). Determinism
    * is q115+q166's composed discipline: centroids from exact
    * per-(label, half, dim) integer sums; every cross-half per-dim
    * product (m₀·m₁, m₀², m₁²) quantized `round(·1e12)::BIGINT` BEFORE
    * its cross-dimension sum; the final cosine one IEEE expression of
    * those exact integers with an integer zero-norm short-circuit.
    * Scale shape: one (label, half, dim)-keyed reduce (tiny result), a
    * |labels|×64 join of the two half relations, a |labels|-row
    * aggregate — linear in the corpus, no pair join.
    */
  private val q188: Q = (s, dir) => {
    val ex = Tables.spread(Tables.embeddings(s, dir))
      .select(col("label"),
        expr("pmod(CAST(conv(substring(md5(cast(vec_id AS string)), 1, 4), 16, 10) AS INT), 2)")
          .as("half"),
        expr(vd).as("v"))
      .transform(graft.util.QueryCaches.tracked)
    val counts = ex.groupBy("label", "half").agg(count(lit(1)).as("n"))
    val means = ex
      .select(col("label"), col("half"), posexplode(col("v")))
      .select(col("label"), col("half"), (col("pos") + 1).as("dim"),
        expr("CAST(round(col * 1e7) AS BIGINT)").as("xq"))
      .groupBy("label", "half", "dim")
      .agg(count(lit(1)).as("n"), sum("xq").as("s1q"))
      .select(col("label"), col("half"), col("dim"),
        expr("CAST(s1q AS DOUBLE) / (n * 1e7)").as("mean"))
      .transform(graft.util.QueryCaches.tracked)
    val m0 = means.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("mean").as("m0"))
    val m1 = means.filter(col("half") === 1)
      .select(col("label"), col("dim"), col("mean").as("m1"))
    val sums = m0.join(m1, Seq("label", "dim"))
      .select(col("label"),
        expr("CAST(round(m0 * m1 * 1e12) AS BIGINT)").as("pq"),
        expr("CAST(round(m0 * m0 * 1e12) AS BIGINT)").as("aq"),
        expr("CAST(round(m1 * m1 * 1e12) AS BIGINT)").as("bq"))
      .groupBy("label")
      .agg(sum("pq").as("spq"), sum("aq").as("saq"), sum("bq").as("sbq"))
    val ca = counts.filter(col("half") === 0).select(col("label"), col("n").as("n_a"))
    val cb = counts.filter(col("half") === 1).select(col("label"), col("n").as("n_b"))
    sums.join(ca, "label").join(cb, "label")
      .select(col("label"), col("n_a"), col("n_b"),
        expr("""CASE WHEN saq = 0 OR sbq = 0 THEN 0D
                |ELSE CAST(spq AS DOUBLE) /
                |  (sqrt(CAST(saq AS DOUBLE)) * sqrt(CAST(sbq AS DOUBLE))) END"""
          .stripMargin).as("drift_cos"))
      .orderBy("label")
  }

  private val q188Sql =
    """WITH ex AS (SELECT vec_id, label,
      |    CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 4)) AS INTEGER) % 2 AS half,
      |    embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |cnt AS (SELECT label, half, CAST(count(*) AS BIGINT) AS n
      |  FROM ex GROUP BY 1, 2),
      |m AS (SELECT label, half, CAST(i AS INTEGER) AS dim,
      |    CAST(CAST(sum(CAST(round(v[i] * 1e7) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |      / (count(*) * 1e7) AS mean
      |  FROM ex, unnest(generate_series(1, 64)) AS t(i) GROUP BY 1, 2, 3),
      |s AS (SELECT a.label,
      |    CAST(sum(CAST(round(a.mean * b.mean * 1e12) AS BIGINT)) AS BIGINT) AS spq,
      |    CAST(sum(CAST(round(a.mean * a.mean * 1e12) AS BIGINT)) AS BIGINT) AS saq,
      |    CAST(sum(CAST(round(b.mean * b.mean * 1e12) AS BIGINT)) AS BIGINT) AS sbq
      |  FROM m a JOIN m b ON a.label = b.label AND a.dim = b.dim
      |    AND a.half = 0 AND b.half = 1
      |  GROUP BY 1)
      |SELECT s.label AS label, ca.n AS n_a, cb.n AS n_b,
      |  CASE WHEN saq = 0 OR sbq = 0 THEN 0.0
      |  ELSE CAST(spq AS DOUBLE) /
      |    (sqrt(CAST(saq AS DOUBLE)) * sqrt(CAST(sbq AS DOUBLE))) END AS drift_cos
      |FROM s JOIN cnt ca ON ca.label = s.label AND ca.half = 0
      |       JOIN cnt cb ON cb.label = s.label AND cb.half = 1
      |ORDER BY s.label""".stripMargin

  private val q115: Q = (s, dir) => {
    val cent = labelDimMeans(s, dir)
    val a = cent.select(col("label").as("label_a"), col("dim"), col("mean").as("ma"))
    val b = cent.select(col("label").as("label_b"), col("dim"), col("mean").as("mb"))
    a.join(b, Seq("dim"))
      .filter(col("label_a") < col("label_b"))
      .withColumn("dq", expr("CAST(round((ma - mb) * (ma - mb) * 1e12) AS BIGINT)"))
      .groupBy("label_a", "label_b")
      .agg(sum("dq").as("sq"))
      .select(col("label_a"), col("label_b"),
        expr("sqrt(CAST(sq AS DOUBLE) / 1e12)").as("dist"))
      .orderBy("label_a", "label_b")
  }

  private val q115Sql =
    """WITH e AS (SELECT label, CAST(i AS INTEGER) AS dim,
      |  CAST(round(embedding[i]::DOUBLE * 1e7) AS BIGINT) AS xq
      |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
      |c AS (SELECT label, dim, count(*) AS n, CAST(sum(xq) AS BIGINT) AS s1q
      |  FROM e GROUP BY 1, 2),
      |m AS (SELECT label, dim, CAST(s1q AS DOUBLE) / (n * 1e7) AS mean FROM c)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  sqrt(CAST(CAST(sum(CAST(round((a.mean - b.mean) * (a.mean - b.mean) * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS dist
      |FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label
      |GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin

  /** q166 — within-class cohesion: per label, the average cosine of each
    * member to its label CENTROID — the intra-class half of the
    * separability audit whose inter-class half is q115 (tight cohesion +
    * wide separation = labels an index or blocking key can trust; loose
    * cohesion with close centroids = entangled labels, and q44/q51/q115
    * outputs built on them are noise). The (cohesion, q115-distance) pair
    * is the Fisher-criterion read on the embedding space.
    *
    * Determinism discipline (q115 + q128 composed): centroids from exact
    * per-(label, dim) integer sums; every per-dimension product —
    * v·mean, v², mean² — is quantized `round(·1e12)::BIGINT` BEFORE its
    * cross-dimension sum, so dot products and norms are exact integers;
    * the per-vector cosine is one IEEE expression of those integers,
    * re-quantized `round(·1e6)::BIGINT` before the cross-vector mean
    * (q128's exact-averaging pattern). A zero-norm vector or degenerate
    * centroid short-circuits to 0 on an integer test, never a NaN.
    *
    * Scale shape: one (label, dim)-keyed reduce for centroids (tiny
    * result, broadcast back), one map-side explode joined to the
    * broadcast means, a (vec_id)-keyed reduce, and a |labels|-row
    * aggregate — linear, no pair join anywhere.
    */
  private val q166: Q = (s, dir) => {
    val cent = graft.util.QueryCaches.tracked(labelDimMeans(s, dir))
    val nc = cent.groupBy("label")
      .agg(sum(expr("CAST(round(mean * mean * 1e12) AS BIGINT)")).as("nc_q"))
    val ex = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("dim"),
        expr("CAST(col AS DOUBLE)").as("v"))
    ex.join(broadcast(cent.select(col("label"), col("dim"), col("mean"))),
        Seq("label", "dim"))
      .groupBy("vec_id", "label")
      .agg(sum(expr("CAST(round(v * mean * 1e12) AS BIGINT)")).as("dot_q"),
        sum(expr("CAST(round(v * v * 1e12) AS BIGINT)")).as("nv_q"))
      .join(broadcast(nc), "label")
      .select(col("label"), expr(
        "CAST(round(CASE WHEN nv_q <= 0 OR nc_q <= 0 THEN 0 " +
          "ELSE CAST(dot_q AS DOUBLE) / (sqrt(CAST(nv_q AS DOUBLE)) * sqrt(CAST(nc_q AS DOUBLE))) END" +
          " * 1e6) AS BIGINT)").as("cq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("cq").as("sq"))
      .select(col("label"), col("n_vecs"),
        expr("CAST(sq AS DOUBLE) / (n_vecs * 1e6)").as("cohesion"))
      .orderBy("label")
  }

  private val q166Sql =
    """WITH e AS (SELECT vec_id, label, CAST(i AS INTEGER) AS dim,
      |    embedding[i]::DOUBLE AS v,
      |    CAST(round(embedding[i]::DOUBLE * 1e7) AS BIGINT) AS xq
      |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
      |c AS (SELECT label, dim, count(*) AS n, CAST(sum(xq) AS BIGINT) AS s1q
      |  FROM e GROUP BY 1, 2),
      |m AS (SELECT label, dim, CAST(s1q AS DOUBLE) / (n * 1e7) AS mean FROM c),
      |nc AS (SELECT label,
      |    CAST(sum(CAST(round(mean * mean * 1e12) AS BIGINT)) AS BIGINT) AS nc_q
      |  FROM m GROUP BY 1),
      |pv AS (SELECT e.vec_id, e.label,
      |    CAST(sum(CAST(round(e.v * m.mean * 1e12) AS BIGINT)) AS BIGINT) AS dot_q,
      |    CAST(sum(CAST(round(e.v * e.v * 1e12) AS BIGINT)) AS BIGINT) AS nv_q
      |  FROM e JOIN m ON m.label = e.label AND m.dim = e.dim
      |  GROUP BY 1, 2),
      |cq AS (SELECT pv.label,
      |    CAST(round(CASE WHEN pv.nv_q <= 0 OR nc.nc_q <= 0 THEN 0
      |      ELSE CAST(pv.dot_q AS DOUBLE) / (sqrt(CAST(pv.nv_q AS DOUBLE)) * sqrt(CAST(nc.nc_q AS DOUBLE))) END
      |      * 1e6) AS BIGINT) AS cq
      |  FROM pv JOIN nc USING (label))
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(cq) AS DOUBLE) / (count(*) * 1e6) AS cohesion
      |FROM cq GROUP BY 1 ORDER BY label""".stripMargin

  /** q124 — one Lloyd (k-means) iteration, the training step behind q53's
    * coarse quantizer: assign every vector to its nearest seed centroid
    * (broadcast 8-row quantizer + map-side argmax, exactly q53's
    * assignment), recompute each cell's centroid from exact per-(cell,dim)
    * integer sums, and report the per-cell member count and centroid
    * SHIFT (distance seed → new centroid — the convergence signal a
    * training loop watches). Dataflow per iteration: one broadcast join +
    * two narrow aggregations; nothing quadratic, nothing driver-side, so
    * iterating to convergence at 100 TB is this same job in a loop.
    * Determinism: q115's discipline — means from integer sums, each
    * squared difference re-quantized before the cross-dim sum.
    */
  private val q124: Q = (s, dir) => {
    val e = embVecs(s, dir)
    val cent = seedCentroids(e)
    val assign = assignCells(e, cent)
    val dims = assign.select(col("cell"), posexplode(col("v")))
      .select(col("cell"), (col("pos") + 1).as("dim"),
        expr("CAST(round(col * 1e7) AS BIGINT)").as("xq"))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n"), sum("xq").as("s1q"))
      .withColumn("mean", expr("CAST(s1q AS DOUBLE) / (n * 1e7)"))
    val seed = cent.select(col("cell"), posexplode(col("cv")))
      .select(col("cell"), (col("pos") + 1).as("dim"), col("col").as("sv"))
    dims.join(seed, Seq("cell", "dim"))
      .withColumn("dq", expr("CAST(round((mean - sv) * (mean - sv) * 1e12) AS BIGINT)"))
      .groupBy("cell")
      .agg(max("n").as("n_members"), sum("dq").as("sq"))
      .select(col("cell"), col("n_members"),
        expr("sqrt(CAST(sq AS DOUBLE) / 1e12)").as("shift"))
      .orderBy("cell")
  }

  private val q124Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
      |assign AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT e.vec_id, e.v, c.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cell) AS rn
      |    FROM e CROSS JOIN cent c) t WHERE rn = 1),
      |dims AS (SELECT cell, CAST(i AS INTEGER) AS dim,
      |  CAST(round(v[i] * 1e7) AS BIGINT) AS xq
      |  FROM assign, unnest(generate_series(1, 64)) AS t(i)),
      |cd AS (SELECT cell, dim, count(*) AS n, CAST(sum(xq) AS BIGINT) AS s1q
      |  FROM dims GROUP BY 1, 2),
      |m AS (SELECT cell, dim, n, CAST(s1q AS DOUBLE) / (n * 1e7) AS mean FROM cd),
      |sd AS (SELECT cell, CAST(i AS INTEGER) AS dim, cv[i] AS sv
      |  FROM cent, unnest(generate_series(1, 64)) AS t(i))
      |SELECT m.cell AS cell, CAST(max(m.n) AS BIGINT) AS n_members,
      |  sqrt(CAST(CAST(sum(CAST(round((m.mean - sd.sv) * (m.mean - sd.sv) * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS shift
      |FROM m JOIN sd ON m.cell = sd.cell AND m.dim = sd.dim
      |GROUP BY m.cell ORDER BY cell""".stripMargin

  /** q125 — ANN recall audit: per query, how many of the EXACT top-5
    * neighbors (q45's brute force, the ground truth) the IVF index (q53)
    * actually returned — recall@5, the accuracy number that decides
    * nprobe/ncells before an index ships. Pure composition: both result
    * relations are tiny (queries × 5 rows), the join is on (query_id,
    * vec_id), and the expensive inputs are the already-bounded pipelines
    * themselves. Recall is an exact small-integer ratio.
    */
  /** Recall@5 of an ANN result against the exact brute-force top-5. */
  private def recallAudit(s: SparkSession, dir: String, ann: DataFrame): DataFrame = {
    val exact = q45(s, dir).filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id"))
    val hits = ann.filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    exact.join(hits, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("query_id"), col("k"), col("hits"),
        (col("hits").cast("double") / col("k")).as("recall"))
      .orderBy("query_id")
  }

  private val q125: Q = (s, dir) => recallAudit(s, dir, q53(s, dir))

  /** q127 — recall audit of the TRAINED index (q126): the number that
    * proves the q124 → q53 composition pays for itself. `IvfRecallSpec`
    * pins trained-mean-recall ≥ seed-mean-recall on the fixture.
    */
  private val q127: Q = (s, dir) => recallAudit(s, dir, q126(s, dir))

  /** Recall-audit SQL over a composed [[ivfCteBlock]] — the exact ground
    * truth (ex_-prefixed CTEs, no name collision with the IVF chain) left-
    * joined to the index's ranked `ann0`.
    */
  /** Exact brute-force cosine top-5 ground truth (ex_-prefixed CTEs, no
    * name collision with any index chain) — shared by [[recallSql]] and
    * q175Sql. */
  private val exactTop5Cte =
    """ex_e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |ex_q AS (SELECT vec_id AS query_id, v AS qv FROM ex_e WHERE vec_id < 5),
      |ex_scored AS (
      |  SELECT ex_q.query_id, ex_e.vec_id,
      |         round(list_dot_product(ex_q.qv, ex_e.v)
      |           / (sqrt(list_dot_product(ex_q.qv, ex_q.qv)) * sqrt(list_dot_product(ex_e.v, ex_e.v))), 6)
      |           AS cos_sim
      |  FROM ex_q JOIN ex_e ON ex_e.vec_id <> ex_q.query_id),
      |exact AS (SELECT query_id, vec_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, vec_id) AS rank FROM ex_scored) t
      |  WHERE rank <= 5)""".stripMargin

  private def recallSql(centDefs: String): String = {
    s"""WITH $exactTop5Cte,
       |${ivfCteBlock(centDefs)},
       |ann AS (SELECT query_id, vec_id, CAST(1 AS BIGINT) AS hit FROM ann0)
       |SELECT exact.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(coalesce(ann.hit, 0)) AS BIGINT) AS hits,
       |  CAST(sum(coalesce(ann.hit, 0)) AS DOUBLE) / count(*) AS recall
       |FROM exact LEFT JOIN ann
       |  ON exact.query_id = ann.query_id AND exact.vec_id = ann.vec_id
       |GROUP BY exact.query_id
       |ORDER BY exact.query_id""".stripMargin
  }

  private val q125Sql = recallSql(seedCentSql)
  private val q127Sql = recallSql(trainedCentSql)

  /** q185 — nprobe sweep: recall@5 of the TRAINED IVF index (q126's
    * quantizer) at nprobe ∈ {1, 2, 4} against the exact brute-force
    * ground truth — the accuracy-vs-cost curve that sizes nprobe before
    * an index ships (q127 reports the single default point; this is the
    * whole dial). Each branch is the same bounded [[ivfTopK]] dataflow
    * (broadcast quantizer, candidates only from probed cells, bounded
    * top-k aggregation); the trained quantizer comes from the keyed
    * registry so the Lloyd step is paid ONCE across all three branches,
    * and each branch's extra cost is one broadcast-assign pass — linear,
    * never all-pairs. Recall aggregates from exact small-integer
    * hit counts; the 3-row curve is the output.
    */
  private val q185: Q = (s, dir) => {
    val e = embVecs(s, dir)
    // ONE brute-force ground-truth pass serves all three branches (the
    // recallAudit composition would re-run q45 per nprobe)
    val exact = graft.util.QueryCaches.tracked(
      q45(s, dir).filter(col("rank") <= 5).select(col("query_id"), col("vec_id")))
    Seq(1, 2, 4).map { np =>
      val hits = ivfTopK(e, trainedCentroids(e), np).filter(col("rank") <= 5)
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(hits, Seq("query_id", "vec_id"), "left")
        .agg(count(lit(1)).as("k_total"),
          sum(coalesce(col("hit"), lit(0L))).as("hits_total"))
        .select(lit(np).as("nprobe"), col("k_total"), col("hits_total"),
          (col("hits_total").cast("double") / col("k_total")).as("recall"))
    }.reduce(_.unionByName(_)).orderBy("nprobe")
  }

  private val q185Sql =
    Seq(1, 2, 4).map { np =>
      s"""SELECT $np AS nprobe, k_total, hits_total, recall FROM (
         |WITH $exactTop5Cte,
         |${ivfCteBlock(trainedCentSql, np)},
         |ann AS (SELECT query_id, vec_id, CAST(1 AS BIGINT) AS hit FROM ann0)
         |SELECT CAST(count(*) AS BIGINT) AS k_total,
         |  CAST(sum(coalesce(ann.hit, 0)) AS BIGINT) AS hits_total,
         |  CAST(sum(coalesce(ann.hit, 0)) AS DOUBLE) / count(*) AS recall
         |FROM exact LEFT JOIN ann
         |  ON exact.query_id = ann.query_id AND exact.vec_id = ann.vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY nprobe"

  /** q181 — PageRank over the bounded kNN graph (q136's edges): 5 exact
    * integer power iterations with damping 0.85 — the graph-centrality
    * signal behind representative-document selection and graph-based
    * quality propagation. Every node in the edge relation has out-degree
    * ≥ 1 (a vector with an in-bucket neighbor ranks at least that
    * neighbor), so there is no dangling mass. Determinism discipline:
    * ranks live as BIGINTs at scale 10¹² — r₀ = ⌊S/N⌋, each step is
    * r' = ⌊0.15·S/N⌋ + Σ ⌊85·r(u) / (100·outdeg(u))⌋ — floor division on
    * non-negative BIGINTs (`div` ⇄ `//` agree), so the sum is
    * associative-exact and bit-identical on both engines after any
    * shuffle order. Scale shape: the classic Pregel loop as 5 chained
    * (edge ⨝ rank → groupBy dst) rounds over a persisted ≤3-out-degree
    * edge relation — O(iterations) bounded shuffles declared in ONE plan
    * (the loop builds the plan; no driver-side data movement), the same
    * shape as [[TextDedup.connectedComponents]]' pointer jumping.
    */
  private val q181: Q = (s, dir) => {
    val S = 1000000000000L
    val edges = knnNeighbors(s, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = graft.util.QueryCaches.tracked(edges.join(deg, "src"))
    val nodes = graft.util.QueryCaches.tracked(
      edges.select(col("src").as("vec_id")).distinct())
    val nn = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("vec_id"), expr(s"CAST(${S}L div n AS BIGINT)").as("r"))
    // r14 measured the q295/q280 teleport-fold rewrite here (union the
    // hoisted per-node teleport rows into the increment aggregation,
    // post-agg is_node filter) and REVERTED it: this loop's left join
    // already reuses both sides' vec_id partitioning, so the plan was at
    // 13 jobs — the union broke the exchange reuse (the cached teleport
    // relation re-shuffled every iteration) and regressed 2.0 → 4.2 s /
    // 13 → 32 jobs. The fold only pays where the probe side needs a
    // fresh exchange + broadcast per iteration (q280/q295's seed-filter
    // teleport), not here.
    for (_ <- 1 to 5) {
      val inc = ed.join(ranks.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst").as("vec_id"),
          expr("CAST((85L * r) div (100L * outdeg) AS BIGINT)").as("c"))
        .groupBy("vec_id").agg(sum("c").as("inc"))
      ranks = nodes.crossJoin(broadcast(nn))
        .join(inc, Seq("vec_id"), "left")
        .select(col("vec_id"),
          expr(s"CAST((15L * ${S}L) div (100L * n) + coalesce(inc, 0L) AS BIGINT)")
            .as("r"))
    }
    ranks.select(col("vec_id"), col("r").as("pr_q"),
        (col("r").cast("double") / lit(1e12)).as("pr"))
      .orderBy("vec_id")
  }

  private val q181Sql = {
    val S = "1000000000000"
    def iter(i: Int): String =
      s"""r$i AS (
         |  SELECT nodes.vec_id,
         |    (15 * $S) // (100 * nn.n) + coalesce(inc.s, 0) AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT ed.dst AS vec_id,
         |      CAST(sum((85 * p.r) // (100 * deg.outdeg)) AS BIGINT) AS s
         |    FROM ed JOIN r${i - 1} p ON ed.src = p.vec_id
         |    JOIN deg ON deg.src = ed.src
         |    GROUP BY 1) inc ON inc.vec_id = nodes.vec_id)""".stripMargin
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |ed AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
       |deg AS (SELECT src, count(*) AS outdeg FROM ed GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS vec_id FROM ed),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT nodes.vec_id, $S // nn.n AS r FROM nodes CROSS JOIN nn),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT vec_id, r AS pr_q, CAST(r AS DOUBLE) / 1e12 AS pr
       |FROM r5 ORDER BY vec_id""".stripMargin
  }

  /** q280 — PERSONALIZED PageRank from the query seed set (vec_id < 5):
    * teleport mass returns to the SEEDS instead of spreading uniformly,
    * so the stationary mass ranks nodes by multi-hop relatedness to the
    * query set — the graph-walk retrieval expansion that finds relevant
    * nodes the direct cosine legs (q45/q275) never score highly, and
    * the standard candidate generator for graph-based recommenders.
    * Same exact-integer discipline as q181 (ranks in 10⁻¹² units, 85/100
    * damping via integer floor-division — any shuffle order sums to the
    * same BIGINT), same shape (5 bounded edge-join + partial-sum rounds
    * declared in one lazy plan over the persisted ≤3-out-degree edges;
    * each round references its predecessor ONCE, the case that needs no
    * lineage cut). Output is the top-20 by mass via
    * TakeOrderedAndProject — at 100 TB the full rank vector never sorts
    * globally, the bounded head does.
    */
  private val q280: Q = (s, dir) => {
    val S = 1000000000000L
    val edges = knnNeighbors(s, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = graft.util.QueryCaches.tracked(edges.join(deg, "src"))
    val nodes = graft.util.QueryCaches.tracked(
      edges.select(col("src").as("vec_id")).distinct())
    val ns = nodes.filter(col("vec_id") < 5).agg(count(lit(1)).as("ns"))
    var ranks = nodes.crossJoin(broadcast(ns))
      .select(col("vec_id"), expr(
        s"CAST(CASE WHEN vec_id < 5 THEN ${S}L div ns ELSE 0L END AS BIGINT)")
        .as("r"))
    // r14 (guide §2.4): the per-iteration `nodes LEFT JOIN inc` folds into
    // the increment aggregation — same exact-fold rewrite as q295 (see
    // Retrieval): each node's (iteration-constant, hoisted) teleport row
    // and each edge's damped share sum in ONE groupBy(vec_id); node rows
    // carry is_node = 1 so the post-agg filter keeps exactly the left
    // join's probe-side groups. One exchange per iteration, no per-round
    // broadcast rebuild.
    val nodesT = graft.util.QueryCaches.tracked(
      nodes.crossJoin(broadcast(ns))
        .select(col("vec_id"), expr(
          s"""CAST(CASE WHEN vec_id < 5 THEN (15L * ${S}L) div (100L * ns)
             |ELSE 0L END AS BIGINT)""".stripMargin).as("c"),
          lit(1).as("is_node")))
    for (_ <- 1 to 5) {
      val contrib = ed.join(ranks.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst").as("vec_id"),
          expr("CAST((85L * r) div (100L * outdeg) AS BIGINT)").as("c"),
          lit(0).as("is_node"))
      ranks = nodesT.unionByName(contrib)
        .groupBy("vec_id")
        .agg(sum("c").as("r"), max("is_node").as("is_node"))
        .filter(col("is_node") === 1)
        .select(col("vec_id"), col("r"))
    }
    ranks.orderBy(col("r").desc, col("vec_id")).limit(20)
      .select(col("vec_id"), (col("vec_id") < 5).as("is_seed"),
        col("r").as("ppr_q"), (col("r").cast("double") / lit(1e12)).as("ppr"))
  }

  private val q280Sql = {
    val S = "1000000000000"
    def iter(i: Int): String =
      s"""p$i AS (
         |  SELECT nodes.vec_id,
         |    CASE WHEN nodes.vec_id < 5 THEN (15 * $S) // (100 * ns.ns)
         |         ELSE 0 END + coalesce(inc.s, 0) AS r
         |  FROM nodes CROSS JOIN ns LEFT JOIN (
         |    SELECT ed.dst AS vec_id,
         |      CAST(sum((85 * p.r) // (100 * deg.outdeg)) AS BIGINT) AS s
         |    FROM ed JOIN p${i - 1} p ON ed.src = p.vec_id
         |    JOIN deg ON deg.src = ed.src
         |    GROUP BY 1) inc ON inc.vec_id = nodes.vec_id)""".stripMargin
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |ed AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
       |deg AS (SELECT src, count(*) AS outdeg FROM ed GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS vec_id FROM ed),
       |ns AS (SELECT count(*) AS ns FROM nodes WHERE vec_id < 5),
       |p0 AS (SELECT nodes.vec_id,
       |    CASE WHEN nodes.vec_id < 5 THEN $S // ns.ns ELSE 0 END AS r
       |  FROM nodes CROSS JOIN ns),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT vec_id, vec_id < 5 AS is_seed, r AS ppr_q,
       |  CAST(r AS DOUBLE) / 1e12 AS ppr
       |FROM p5 ORDER BY ppr_q DESC, vec_id LIMIT 20""".stripMargin
  }

  /** q281 — SEMI-SUPERVISED label propagation with a holdout audit:
    * 80 % of the kNN graph's nodes keep their true `label` as anchors
    * (vec_id % 5 ≠ 0), the held-out 20 % start unlabeled, and three
    * synchronous rounds let every non-anchor adopt its neighbors'
    * majority label ((count desc, label asc) argmax — the q267
    * determinism discipline); the output is the per-class confusion
    * accounting on the holdout (n_holdout / n_predicted / n_correct /
    * accuracy). Distinct from q267's LPA: that discovers unsupervised
    * communities, this PROPAGATES ground-truth classes and measures
    * them — the transductive classifier a labeling pipeline runs to
    * pre-label new data from a labeled core, and the audit that says
    * whether the embedding space supports it (on this near-uniform
    * corpus accuracy sits near chance — the audit's honest verdict,
    * same epistemics as q278's recall). Monotonicity makes carry-over
    * unnecessary: a node labeled in round r has a labeled neighbor in
    * r−1 that stays labeled, so it ALWAYS receives votes in r+1 —
    * each round therefore references its predecessor exactly ONCE
    * (votes join), so the three rounds stay one linear plan with no
    * lineage cut (q280's case; at sf0.1 the one plan runs 16 jobs where
    * a cut per round ran 30, Probe count). Per round: one edge⋈label
    * equi-join, a (node, label) partial+final count, a struct-max
    * argmax, an anti-join against the anchor set — no window, no
    * collect.
    */
  private val q281: Q = (s, dir) => {
    val sym = symKnnEdges(s, dir)
    val nodes = graft.util.QueryCaches.tracked(
      sym.select(col("src").as("v")).distinct())
    val labels = Tables.embeddings(s, dir)
      .select(col("vec_id").as("v"), col("label").cast("long").as("lab"))
    val seeds = graft.util.QueryCaches.tracked(
      nodes.join(labels, "v").filter(col("v") % 5 =!= 0))
    var cur = seeds
    for (_ <- 1 to 3) {
      val votes = sym.join(cur.select(col("v").as("dst"), col("lab")), "dst")
        .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("c"))
      val guesses = votes
        .join(seeds.select(col("v").as("src")), Seq("src"), "left_anti")
        .groupBy("src")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"),
          col("lab").as("lab"))).as("m"))
        .select(col("src").as("v"), col("m.lab").as("lab"))
      cur = seeds.unionByName(guesses)
    }
    nodes.filter(col("v") % 5 === 0).join(labels, "v")
      .select(col("v"), col("lab").as("true_lab"))
      .join(cur.filter(col("v") % 5 === 0)
        .select(col("v"), col("lab").as("pred_lab")), Seq("v"), "left")
      .groupBy(col("true_lab").as("label"))
      .agg(count(lit(1)).as("n_holdout"),
        sum(when(col("pred_lab").isNotNull, 1L).otherwise(0L)).as("n_predicted"),
        sum(when(col("pred_lab") === col("true_lab"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy", expr(
        """CASE WHEN n_predicted = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(n_correct AS DOUBLE) / CAST(n_predicted AS DOUBLE) END"""
          .stripMargin))
      .orderBy("label")
  }

  private val q281Sql = {
    def round(i: Int): String =
      s"""c$i AS MATERIALIZED (SELECT * FROM seeds UNION ALL
         |  SELECT t.src AS v, t.m[3] AS lab FROM (
         |    SELECT votes.src, max(ROW(votes.c, -votes.lab, votes.lab)) AS m
         |    FROM (SELECT sym.src, p.lab, CAST(count(*) AS BIGINT) AS c
         |          FROM sym JOIN c${i - 1} p ON p.v = sym.dst
         |          GROUP BY 1, 2) votes
         |    WHERE NOT EXISTS (SELECT 1 FROM seeds s WHERE s.v = votes.src)
         |    GROUP BY votes.src) t)""".stripMargin
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |und AS (SELECT DISTINCT least(vec_id, neighbor_id) AS a,
       |    greatest(vec_id, neighbor_id) AS b FROM knn),
       |sym AS (SELECT a AS src, b AS dst FROM und
       |        UNION ALL SELECT b, a FROM und),
       |nodes AS (SELECT DISTINCT src AS v FROM sym),
       |labs AS (SELECT vec_id AS v, CAST(label AS BIGINT) AS lab
       |  FROM embeddings),
       |seeds AS MATERIALIZED (SELECT n.v, l.lab FROM nodes n
       |  JOIN labs l ON l.v = n.v WHERE n.v % 5 <> 0),
       |c0 AS MATERIALIZED (SELECT * FROM seeds),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT h.true_lab AS label, CAST(count(*) AS BIGINT) AS n_holdout,
       |  CAST(sum(CASE WHEN g.lab IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_predicted,
       |  CAST(sum(CASE WHEN g.lab = h.true_lab THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CASE WHEN sum(CASE WHEN g.lab IS NOT NULL THEN 1 ELSE 0 END) = 0
       |  THEN CAST(0 AS DOUBLE)
       |  ELSE CAST(sum(CASE WHEN g.lab = h.true_lab THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(CASE WHEN g.lab IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |  END AS accuracy
       |FROM (SELECT n.v, l.lab AS true_lab FROM nodes n
       |      JOIN labs l ON l.v = n.v WHERE n.v % 5 = 0) h
       |LEFT JOIN (SELECT v, lab FROM c3 WHERE v % 5 = 0) g ON g.v = h.v
       |GROUP BY h.true_lab
       |ORDER BY label""".stripMargin
  }

  /** q191 — hubness audit of the kNN graph: the in-degree histogram of
    * q136's bounded edges. High-dimensional embedding spaces famously
    * grow HUBS — points that appear in many other points' neighbor
    * lists — which poison kNN-based dedup, label propagation, and
    * retrieval (the hub matches everything). Out-degree is bounded (≤3)
    * by construction; in-degree is the free variable this audits: a
    * heavy right tail here says the space (or its normalization) needs
    * fixing BEFORE any graph consumer runs. Scale shape: one groupBy
    * over the ≤3|V|-row edge relation, a left join back to the node set
    * for the in-degree-0 row, and a ≤|V|-key histogram aggregate — all
    * equi-keyed partial+final, linear.
    */
  private val q191: Q = (s, dir) => {
    val edges = graft.util.QueryCaches.tracked(
      knnNeighbors(s, dir)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst")))
    val nodes = edges.select(col("src").as("vec_id")).distinct()
    val indeg = edges.select(col("dst").as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("in_degree"))
    nodes.join(indeg, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy("in_degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("in_degree")
  }

  private val q191Sql =
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |nodes AS (SELECT DISTINCT vec_id FROM knn),
       |ind AS (SELECT neighbor_id AS vec_id, CAST(count(*) AS BIGINT) AS in_degree
       |  FROM knn GROUP BY 1)
       |SELECT coalesce(ind.in_degree, CAST(0 AS BIGINT)) AS in_degree,
       |  CAST(count(*) AS BIGINT) AS n_nodes
       |FROM nodes LEFT JOIN ind USING (vec_id)
       |GROUP BY 1 ORDER BY in_degree""".stripMargin

  /** q207 — embedding-norm hygiene profile: per label, the vector count,
    * zero-norm count, and exact p05/p50/p95 of the (6-dp-rounded,
    * ×10⁶-quantized) L2 norm — the audit that catches norm collapse, an
    * un-normalized ingest batch, or dead (all-zero) vectors before any
    * cosine-based consumer silently degrades. The dot product is a
    * sequential array fold (same element order both engines — the
    * precedent the 6-dp `cosine_sim` ⇄ `list_dot_product` rounding
    * already relies on), rounded then quantized so `percentile_disc`
    * ranks exact BIGINTs. Map-side per-row work + grouped exact
    * percentiles over |labels| groups.
    */
  private val q207: Q = (s, dir) => {
    Tables.spread(Tables.embeddings(s, dir))
      .select(col("label"),
        expr("""CAST(round(round(sqrt(
                |  aggregate(zip_with(CAST(embedding AS array<double>),
                |    CAST(embedding AS array<double>), (x, y) -> x * y),
                |    0D, (a, x) -> a + x)), 6) * 1e6) AS BIGINT)"""
          .stripMargin).as("nq"))
      .createOrReplaceTempView("emb_q207")
    s.sql(
      """SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_norm,
        |  CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY nq) AS BIGINT)
        |    / 1e6 AS norm_p05,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY nq) AS BIGINT)
        |    / 1e6 AS norm_p50,
        |  CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY nq) AS BIGINT)
        |    / 1e6 AS norm_p95
        |FROM emb_q207 GROUP BY label ORDER BY label""".stripMargin)
  }

  private val q207Sql =
    """WITH n AS (SELECT label,
      |    CAST(round(round(sqrt(list_dot_product(embedding::DOUBLE[],
      |      embedding::DOUBLE[])), 6) * 1e6) AS BIGINT) AS nq
      |  FROM embeddings)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_zero_norm,
      |  CAST(quantile_disc(nq, 0.05) AS BIGINT) / 1e6 AS norm_p05,
      |  CAST(quantile_disc(nq, 0.5) AS BIGINT) / 1e6 AS norm_p50,
      |  CAST(quantile_disc(nq, 0.95) AS BIGINT) / 1e6 AS norm_p95
      |FROM n GROUP BY label ORDER BY label""".stripMargin

  /** q210 — split-stratification audit: does the q154/q158 digest-mod
    * train/val/test split preserve the LABEL distribution? Per split:
    * the chi-square statistic of its label counts against the expected
    * allocation (split size × overall label share) over the FULL
    * split×label grid (zero cells included — an absent label in a 1%
    * holdout is exactly the imbalance this catches). A hash split is
    * unbiased by construction but not balanced by luck at small holdout
    * sizes; this is the number that says whether label-sensitive evals
    * on the holdout are trustworthy. Determinism is q137's chi-square
    * discipline: the deviation is staged through a column (no libm
    * `pow`), each cell's term quantized `round(·1e9)::BIGINT` before
    * the per-split sum. Scale shape: one (split, label) partial+final
    * count, two tiny marginal aggregates crossed into a |splits|×
    * |labels| grid, a 3-row result.
    */
  private val q210: Q = (s, dir) => {
    val obs = Tables.spread(Tables.embeddings(s, dir))
      .select(col("label"),
        expr("""CASE WHEN CAST(conv(substring(md5(cast(vec_id AS string)), 1, 4), 16, 10) AS INT) % 100 < 98 THEN 'train'
                |WHEN CAST(conv(substring(md5(cast(vec_id AS string)), 1, 4), 16, 10) AS INT) % 100 = 98 THEN 'val'
                |ELSE 'test' END""".stripMargin).as("split"))
      .groupBy("split", "label").agg(count(lit(1)).as("obs"))
      .transform(graft.util.QueryCaches.tracked)
    val st = obs.groupBy("split").agg(sum("obs").as("split_n"))
    val lt = obs.groupBy("label").agg(sum("obs").as("label_n"))
    val gt = obs.agg(sum("obs").as("grand_n"))
    st.crossJoin(broadcast(lt))
      .join(obs, Seq("split", "label"), "left")
      .crossJoin(broadcast(gt))
      .withColumn("o", coalesce(col("obs"), lit(0L)).cast("double"))
      .withColumn("exp", expr("CAST(split_n AS DOUBLE) * label_n / grand_n"))
      .withColumn("d", col("o") - col("exp"))
      .withColumn("tq", expr("CAST(round(d * d / exp * 1e9) AS BIGINT)"))
      .groupBy("split")
      .agg(max("split_n").as("n_vecs"),
        (count(lit(1)) - 1).as("dof"),
        sum("tq").as("chi2q"))
      .select(col("split"), col("n_vecs"), col("dof"),
        (col("chi2q").cast("double") / lit(1e9)).as("chi2"))
      .orderBy("split")
  }

  private val q210Sql =
    """WITH e AS (SELECT label,
      |    CASE WHEN CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 4)) AS INTEGER) % 100 < 98 THEN 'train'
      |    WHEN CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 4)) AS INTEGER) % 100 = 98 THEN 'val'
      |    ELSE 'test' END AS split
      |  FROM embeddings),
      |obs AS (SELECT split, label, CAST(count(*) AS BIGINT) AS obs
      |  FROM e GROUP BY 1, 2),
      |st AS (SELECT split, CAST(sum(obs) AS BIGINT) AS split_n
      |  FROM obs GROUP BY 1),
      |lt AS (SELECT label, CAST(sum(obs) AS BIGINT) AS label_n
      |  FROM obs GROUP BY 1),
      |gt AS (SELECT CAST(sum(obs) AS BIGINT) AS grand_n FROM obs),
      |g AS (SELECT st.split, lt.label, st.split_n, lt.label_n, gt.grand_n,
      |    CAST(coalesce(obs.obs, 0) AS DOUBLE) AS o,
      |    CAST(st.split_n AS DOUBLE) * lt.label_n / gt.grand_n AS exp
      |  FROM st CROSS JOIN lt
      |  LEFT JOIN obs ON obs.split = st.split AND obs.label = lt.label
      |  CROSS JOIN gt),
      |t AS (SELECT split, split_n,
      |    CAST(round((o - exp) * (o - exp) / exp * 1e9) AS BIGINT) AS tq
      |  FROM g)
      |SELECT split, max(split_n) AS n_vecs,
      |  CAST(count(*) - 1 AS BIGINT) AS dof,
      |  CAST(CAST(sum(tq) AS BIGINT) AS DOUBLE) / 1e9 AS chi2
      |FROM t GROUP BY split ORDER BY split""".stripMargin

  /** q205 — triangle census of the kNN graph: the number of triangles,
    * the number of wedges (open 2-paths), and the global clustering
    * coefficient 3·Δ/wedges — the "is this graph locally clumpy or
    * star-shaped" number that, next to q191's hubness and q198's
    * reciprocity, completes the graph-health triad (high clustering =
    * dense semantic neighborhoods dedup/label-propagation can exploit;
    * low clustering with high hubness = degenerate space). Classic
    * distributed triangle counting: symmetrize, orient every edge
    * low→high (each triangle counted exactly once), one self-join on
    * the middle vertex to enumerate oriented wedges, one semi-join
    * against the closing edge — with the orientation, join fan-out is
    * bounded by the max oriented out-degree, the standard trick that
    * keeps the enumeration linear-ish at scale. Wedge count is
    * Σ C(deg, 2) over exact integer degrees. Composes the SHARED kNN
    * edge relation.
    */
  private val q205: Q = (s, dir) => {
    val und = graft.util.QueryCaches.tracked(
      knnNeighbors(s, dir)
        .select(least(col("vec_id"), col("neighbor_id")).as("a"),
          greatest(col("vec_id"), col("neighbor_id")).as("b"))
        .distinct())
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val tri = und.as("e1")
      .join(und.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
      .select(col("a"), col("b"), col("c"))
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        expr("""CASE WHEN n_wedges = 0 THEN 0D
                |ELSE CAST(3 * n_triangles AS DOUBLE) / n_wedges END"""
          .stripMargin).as("clustering_coeff"))
  }

  private val q205Sql =
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |und AS (SELECT DISTINCT least(vec_id, neighbor_id) AS a,
       |    greatest(vec_id, neighbor_id) AS b FROM knn),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY 1),
       |w AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg),
       |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM und e1 JOIN und e2 ON e2.a = e1.b) t
       |  WHERE EXISTS (SELECT 1 FROM und e3
       |                WHERE e3.a = t.a AND e3.b = t.c))
       |SELECT tri.n_triangles, w.n_wedges,
       |  CASE WHEN w.n_wedges = 0 THEN 0.0
       |  ELSE CAST(3 * tri.n_triangles AS DOUBLE) / w.n_wedges END
       |    AS clustering_coeff
       |FROM tri CROSS JOIN w""".stripMargin

  /** q184 — hard-negative mining: per vector, the top-2 most-similar
    * in-bucket neighbors with a DIFFERENT label — the pairs contrastive
    * training wants as negatives precisely because they are close in
    * embedding space but semantically distinct. Same hash-bounded shape
    * as q136's kNN kernel (the hyperplane bucket bounds every block; the
    * label predicate only FILTERS inside it, never keys the join), and
    * the per-vector top-k is the bounded [[graft.functions.TopKByScore]]
    * partial+final aggregation — no ranking window. Vectors whose bucket
    * holds only same-label neighbors have no hard negatives and are
    * absent by definition on both engines.
    */
  private val q184: Q = (s, dir) => {
    val topk = udaf(new graft.functions.TopKByScore(2))
    val e = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("label"), expr(vd).as("v"))
      .withColumn("bucket", expr(hyperplaneBucket("v", planesFor(s, dir))))
      // bounded 2^p-way key: not pre-partitioned, per q44's cache note
      .transform(graft.util.QueryCaches.tracked)
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nb"),
        round(expr(cosExpr("a.v", "b.v")), 6).as("cs"))
      .groupBy("vec_id")
      .agg(topk(col("cs"), col("nb")).as("tk"))
      .select(col("vec_id"), posexplode(col("tk")))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("vec_id", "rank")
  }

  private val q184Sql =
    s"""WITH $planesCteSql,
       |e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |bits AS (
       |  SELECT e0.vec_id, planes.p,
       |    CASE WHEN list_dot_product(e0.v, planes.s) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM e0 CROSS JOIN planes),
       |buckets AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
       |  FROM bits GROUP BY vec_id),
       |e AS (SELECT e0.vec_id, e0.label, e0.v, b.bucket FROM e0 JOIN buckets b USING (vec_id)),
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id, round($duckCos, 6) AS cos_sim
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.label <> b.label)
       |SELECT vec_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= 2
       |ORDER BY vec_id, rank""".stripMargin

  /** Oracle CTE chain for the resolved EMBEDDING dedup clusters (q57's
    * bucket pairs at cos ≥ 0.4 → symmetric closure → recursive
    * reachability → min-label components as `ecc(vec_id, cluster_id)`) —
    * one definition shared by q129Sql and q167Sql. CTE names are
    * e-prefixed so the chain composes with TextDedup's text-side cluster
    * chain (both in scope inside q167Sql). Callers open with
    * `WITH RECURSIVE`.
    */
  private[ops] val embClusterCtes =
    s"""$bucketPairCtes,
       |eedges AS (
       |  SELECT vec_a, vec_b FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |           round($duckCos, 6) AS cos_sim
       |    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
       |  WHERE cos_sim >= 0.4),
       |esym AS (SELECT vec_a AS a, vec_b AS b FROM eedges
       |        UNION SELECT vec_b, vec_a FROM eedges),
       |ereach(a, b) AS (
       |  SELECT DISTINCT a, a FROM esym
       |  UNION
       |  SELECT r.a, s.b FROM ereach r JOIN esym s ON r.b = s.a
       |),
       |ecc AS (SELECT a AS vec_id, min(b) AS cluster_id FROM ereach GROUP BY a)""".stripMargin

  private val q129Sql =
    s"""WITH RECURSIVE
       |$embClusterCtes
       |SELECT vec_id, cluster_id, (cluster_id = vec_id) AS is_canonical
       |FROM ecc ORDER BY vec_id""".stripMargin

  /** q197 — embedding-cluster label purity: q129's resolved near-dup
    * clusters joined to the class labels — per cluster, its size, the
    * majority label (smallest label among ties, deterministically), and
    * the purity ratio. A near-dup cluster spanning labels means either
    * the labels are noisy or the 0.4-cosine dedup bar is too loose for
    * this space — the cross-check that decides whether cluster-level
    * survivorship (q144's rule) can be trusted to preserve label
    * balance. Composes the SHARED embedding-cluster relation (keyed
    * registry — in a composed job q129/q167/q197 pay the CC pipeline
    * once); everything after is two bounded groupBys and a small
    * equi-join, exact integers until the final division.
    */
  private val q197: Q = (s, dir) => {
    val cl = embedClusters(s, dir)
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
    val cnt = cl
      .join(Tables.spread(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("label")), "vec_id")
      .groupBy("cluster_id", "label").agg(count(lit(1)).as("cnt"))
      .transform(graft.util.QueryCaches.tracked)
    val sz = cnt.groupBy("cluster_id")
      .agg(sum("cnt").as("size"), max("cnt").as("majority_n"))
    cnt.join(sz, "cluster_id")
      .filter(col("cnt") === col("majority_n"))
      .groupBy("cluster_id")
      .agg(max("size").as("size"), max("majority_n").as("majority_n"),
        min("label").as("majority_label"))
      .select(col("cluster_id"), col("size"), col("majority_n"),
        col("majority_label"),
        (col("majority_n").cast("double") / col("size")).as("purity"))
      .orderBy("cluster_id")
  }

  private val q197Sql =
    s"""WITH RECURSIVE
       |$embClusterCtes,
       |jc AS (SELECT ecc.cluster_id, emb.label
       |  FROM ecc JOIN embeddings emb ON emb.vec_id = ecc.vec_id),
       |cnt AS (SELECT cluster_id, label, CAST(count(*) AS BIGINT) AS cnt
       |  FROM jc GROUP BY 1, 2),
       |sz AS (SELECT cluster_id, CAST(sum(cnt) AS BIGINT) AS size,
       |    CAST(max(cnt) AS BIGINT) AS majority_n
       |  FROM cnt GROUP BY 1)
       |SELECT cnt.cluster_id, max(sz.size) AS size,
       |  max(sz.majority_n) AS majority_n,
       |  min(cnt.label) AS majority_label,
       |  CAST(max(sz.majority_n) AS DOUBLE) / max(sz.size) AS purity
       |FROM cnt JOIN sz USING (cluster_id)
       |WHERE cnt.cnt = sz.majority_n
       |GROUP BY cnt.cluster_id
       |ORDER BY cluster_id""".stripMargin

  /** q198 — kNN reciprocity: the fraction of directed kNN edges whose
    * reverse edge also exists. Low reciprocity is the other face of
    * q191's hubness (hubs absorb edges they never return) and the
    * precondition check for mutual-kNN clustering and reciprocal-rank
    * dedup rules. Composes the SHARED kNN edge relation; the
    * reciprocity test is one left-semi self-equi-join on the swapped
    * key of the bounded (≤3|V|-row) edge list — never touches vectors.
    */
  private val q198: Q = (s, dir) => {
    val e = knnNeighbors(s, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val rec = e.as("a").join(
      e.select(col("dst").as("src"), col("src").as("dst")).as("b"),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(rec.agg(count(lit(1)).as("n_reciprocal"))))
      .select(col("n_edges"), col("n_reciprocal"),
        (col("n_reciprocal").cast("double") / col("n_edges")).as("reciprocity"))
  }

  private val q198Sql =
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |ed AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ed),
       |rec AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal FROM ed a
       |  WHERE EXISTS (SELECT 1 FROM ed b
       |                WHERE b.src = a.dst AND b.dst = a.src))
       |SELECT tot.n_edges, rec.n_reciprocal,
       |  CAST(rec.n_reciprocal AS DOUBLE) / tot.n_edges AS reciprocity
       |FROM tot CROSS JOIN rec""".stripMargin

  /** q128 — quantizer quality audit: average best-cell cosine under the
    * seed vs the trained quantizer. This is (the cosine form of) the
    * k-means objective — the quantity Lloyd actually improves — so the
    * training gain is pinned by a monotone metric, where recall@5 on a
    * tiny fixture can wobble by a boundary neighbor. Exact integer-sum
    * averaging (cs is already rounded to 6dp, so round(cs·1e6) is exact)
    * keeps the cross-engine hash stable under Spark's parallel reduction.
    */
  private val q128: Q = (s, dir) => {
    // consumed by both variants (and the trained path re-assigns): one scan
    val e = embVecs(s, dir).transform(graft.util.QueryCaches.tracked)
    def score(cent: DataFrame, tag: String): DataFrame =
      assignCells(e, cent)
        .agg(sum(expr("CAST(round(cs * 1e6) AS BIGINT)")).as("sq"),
          count(lit(1)).as("n"))
        .select(lit(tag).as("variant"),
          expr("CAST(sq AS DOUBLE) / (n * 1e6)").as("avg_best_cos"))
    score(seedCentroids(e), "seed")
      .unionByName(score(trainedCentroids(e), "trained"))
      .orderBy("variant")
  }

  private val q128Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sc AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
       |$trainedCentSql,
       |sbest AS (
       |  SELECT e.vec_id, max(round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6)) AS cs
       |  FROM e CROSS JOIN sc c GROUP BY e.vec_id),
       |tbest AS (
       |  SELECT e.vec_id, max(round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6)) AS cs
       |  FROM e CROSS JOIN cent c GROUP BY e.vec_id)
       |SELECT variant, avg_best_cos FROM (
       |  SELECT 'seed' AS variant,
       |    CAST(CAST(sum(CAST(round(cs * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE) / (count(*) * 1e6) AS avg_best_cos
       |  FROM sbest
       |  UNION ALL
       |  SELECT 'trained' AS variant,
       |    CAST(CAST(sum(CAST(round(cs * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE) / (count(*) * 1e6) AS avg_best_cos
       |  FROM tbest) u
       |ORDER BY variant""".stripMargin

  /** q133 — product-quantization assignment: the vector-compression step
    * between the IVF coarse quantizer (q53/q126) and a shipped ANN index.
    * The 64-dim vector splits into 4 contiguous 16-dim subvectors; each
    * subvector is assigned to the nearest of 4 per-subspace codebook
    * centroids (PQ with m=4, k=4 ⇒ 8 bits per vector instead of 256
    * bytes), and the summed residual is the reconstruction error that
    * sizes the recall loss before deployment.
    *
    * Cross-engine determinism: the codebook is computed ONCE in Scala
    * (md5-seeded, [[pqCent]]) and inlined as identical double literals in
    * both plans (shortest-roundtrip decimal ⇒ both parsers recover the
    * same bits). Each squared per-dimension residual is quantized to a
    * BIGINT (round(d²·1e9)) BEFORE summing, so subspace distances are
    * exact integers and the argmin is a pure integer CASE with a
    * first-min tie break — no float comparison anywhere.
    *
    * Scale shape: wholly map-side — the codebook is a compile-time
    * constant (a TRAINED codebook would be a ≤ m·k-row broadcast, the
    * q124/q126 pattern), and the assignment runs through the native
    * [[graft.functions.PqAssign]] expression: three nested primitive
    * loops inside whole-stage codegen. The first cut unrolled all 256
    * distance terms into one projection, which blew the JVM's 64 KB
    * method limit — whole-stage codegen failed to compile and the stage
    * silently ran interpreted (the r5 LSH trap, caught by the write-path
    * WARN scan). The only ordering is the declared output sort; zero
    * shuffles before it: this runs over 100 TB of vectors as one
    * embarrassingly parallel pass.
    */
  private def pqCent(m: Int, c: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pq${m}_${c}_$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val h = Integer.parseInt(hex.substring(0, 4), 16)
    (h % 1000 - 500) / 2000.0
  }

  /** Unrolled integer-quantized squared L2 distance from subvector `m` to
    * codebook entry `c`; `vj` renders 1-based vector indexing per engine,
    * so the Spark plan and the DuckDB oracle share one definition.
    */
  private def pqDist(m: Int, c: Int, vj: Int => String): String =
    (0 until 16).map { j =>
      val cent = pqCent(m, c, j)
      val d = s"(${vj(16 * m + j + 1)} - ($cent))"
      s"CAST(round($d * $d * 1e9) AS BIGINT)"
    }.mkString(" + ")

  private def pqCode(dc: Int => String): String =
    s"""CASE WHEN ${dc(0)} <= ${dc(1)} AND ${dc(0)} <= ${dc(2)} AND ${dc(0)} <= ${dc(3)} THEN 0
       |  WHEN ${dc(1)} <= ${dc(2)} AND ${dc(1)} <= ${dc(3)} THEN 1
       |  WHEN ${dc(2)} <= ${dc(3)} THEN 2 ELSE 3 END""".stripMargin

  /** Flattened codebook literal, laid out `(subspace·k + centroid)·subDim
    * + dim` per [[graft.functions.PqAssign]]'s contract; shortest-roundtrip
    * double rendering keeps it bit-identical to the oracle's inlined
    * centroids.
    */
  private val pqCodebookSql: String =
    (for (m <- 0 until 4; c <- 0 until 4; j <- 0 until 16)
      yield s"${pqCent(m, c, j)}D").mkString("array(", ", ", ")")

  private val q133: Q = (s, dir) =>
    Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        expr(s"pq_assign($vd, $pqCodebookSql, 4, 4)").as("pq"))
      .select(col("vec_id"),
        expr("CAST(element_at(pq, 1) AS INT)").as("code0"),
        expr("CAST(element_at(pq, 2) AS INT)").as("code1"),
        expr("CAST(element_at(pq, 3) AS INT)").as("code2"),
        expr("CAST(element_at(pq, 4) AS INT)").as("code3"),
        expr("element_at(pq, 5)").as("err_q"))
      .orderBy("vec_id")

  private val q133Sql = {
    val dcols = (for (m <- 0 until 4; c <- 0 until 4) yield
      s"${pqDist(m, c, i => s"CAST(embedding[$i] AS DOUBLE)")} AS d_${m}_$c")
      .mkString(",\n  ")
    val codes = (0 until 4).map(m =>
      s"${pqCode(c => s"d_${m}_$c")} AS code$m").mkString(",\n  ")
    val errs = (0 until 4)
      .map(m => s"least(d_${m}_0, d_${m}_1, d_${m}_2, d_${m}_3)")
      .mkString(" + ")
    s"""WITH d AS (SELECT vec_id,
       |  $dcols
       |  FROM embeddings)
       |SELECT vec_id,
       |  $codes,
       |  $errs AS err_q
       |FROM d ORDER BY vec_id""".stripMargin
  }

  /** q161 — PQ codebook distortion audit: per (subspace, assigned
    * centroid), how many vectors landed there and how much quantization
    * error they carry — the audit that finds DEAD codebook entries (rows
    * absent because nothing assigns to them on either engine) and
    * OVERLOADED ones (high count × high mean distortion), the two
    * failure modes that decide whether a codebook retrains before an
    * index ships. Closes q133's compression loop the way q128 closes the
    * IVF loop.
    *
    * Dataflow: one [[graft.functions.PqAssign]] pass (the same native
    * codegen'd loop as q133 — the extended output carries the
    * per-subspace minima at positions m+2..2m+1, so no distance is ever
    * re-derived outside the loop), a 4-element explode, and one bounded
    * ≤ m·k-row aggregate of exact BIGINT sums; the mean is one IEEE
    * divide at the end. Wholly map-side before the tiny aggregate —
    * the 100 TB shape is a single embarrassingly parallel pass.
    */
  private val q161: Q = (s, dir) =>
    Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        expr(s"pq_assign($vd, $pqCodebookSql, 4, 4)").as("pq"))
      .select(explode(array((0 until 4).map(m => struct(
        lit(m).as("subspace"),
        expr(s"CAST(element_at(pq, ${m + 1}) AS INT)").as("code"),
        expr(s"element_at(pq, ${m + 6})").as("dq"))): _*)).as("e"))
      .select(col("e.subspace"), col("e.code"), col("e.dq"))
      .groupBy("subspace", "code")
      .agg(count(lit(1)).as("n_vecs"), sum("dq").as("dist_q"))
      .select(col("subspace"), col("code"), col("n_vecs"), col("dist_q"),
        ((col("dist_q").cast("double") / col("n_vecs").cast("double")) / 1e9)
          .as("mean_dist"))
      .orderBy("subspace", "code")

  private val q161Sql = {
    val dcols = (for (m <- 0 until 4; c <- 0 until 4) yield
      s"${pqDist(m, c, i => s"CAST(embedding[$i] AS DOUBLE)")} AS d_${m}_$c")
      .mkString(",\n  ")
    val assigned = (0 until 4).map(m =>
      s"${pqCode(c => s"d_${m}_$c")} AS code$m,\n" +
        s"  least(d_${m}_0, d_${m}_1, d_${m}_2, d_${m}_3) AS dq$m")
      .mkString(",\n  ")
    val unions = (0 until 4).map(m =>
      s"SELECT $m AS subspace, code$m AS code, dq$m AS dq FROM a")
      .mkString("\nUNION ALL\n")
    s"""WITH d AS (SELECT vec_id,
       |  $dcols
       |  FROM embeddings),
       |a AS (SELECT vec_id,
       |  $assigned
       |  FROM d),
       |u AS ($unions)
       |SELECT subspace, code, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(dq) AS BIGINT) AS dist_q,
       |  (CAST(CAST(sum(dq) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1e9
       |    AS mean_dist
       |FROM u GROUP BY 1, 2 ORDER BY subspace, code""".stripMargin
  }

  /** q168 — one PQ-codebook Lloyd step: q124's training pattern applied
    * per SUBSPACE to q133's product quantizer. Every vector's subvectors
    * are assigned by the native `pq_assign` loop (the exact-integer
    * argmin q133 ships), each (subspace, centroid) cell's new centroid
    * is recomputed from exact per-dimension integer sums, and the
    * per-cell member count and centroid SHIFT (seed → new, the
    * convergence signal) come out — so training the PQ codebook at
    * 100 TB is this job in a loop, exactly as q124/q126/q127/q128
    * compose the IVF training loop. A dead codebook entry (q161's
    * finding) is simply absent — nothing assigns to it on either
    * engine — and shift quantifies how far the seed codebook sits from
    * this corpus's geometry before a retrain ships.
    *
    * Dataflow: ONE pq_assign pass (wholly map-side), a 64-way dim
    * explode reduced to per-(subspace, code, dim) BIGINT sums (bounded:
    * m·k·subDim = 256 groups), a broadcast join against the 256-row
    * seed table, and a 16-row rollup. Determinism: q115/q124's
    * discipline — means from integer sums, each squared difference
    * re-quantized before the cross-dim sum; the seed doubles reach both
    * engines as the same shortest-roundtrip literals the codebook
    * itself uses.
    */
  private val q168: Q = (s, dir) => {
    // n_members is max(n) over the per-(m, code, dim) counts, which is
    // exact ONLY when every vector contributes all 64 dims — a short or
    // null-holed embedding would skew counts AND means silently (the
    // oracle shares the assumption via generate_series(1,64)). Assert
    // the shape loudly on both engines instead of trusting it.
    val a = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        expr(s"""CASE WHEN size($vd) = 64
                |  AND size(filter($vd, x -> x IS NULL)) = 0 THEN $vd
                |  ELSE CAST(raise_error('q168: embedding must have exactly 64 non-null dims') AS array<double>)
                |END""".stripMargin).as("v"))
      .withColumn("pq", expr(s"pq_assign(v, $pqCodebookSql, 4, 4)"))
    val dims = a.select(col("pq"), posexplode(col("v")))
      .select(expr("CAST(pos div 16 AS INT)").as("m"),
        (col("pos") % 16 + 1).cast("int").as("j"),
        expr("CAST(element_at(pq, CAST(pos div 16 AS INT) + 1) AS INT)")
          .as("code"),
        expr("CAST(round(col * 1e7) AS BIGINT)").as("xq"))
      .groupBy("m", "code", "j")
      .agg(count(lit(1)).as("n"), sum("xq").as("s1q"))
      .withColumn("mean", expr("CAST(s1q AS DOUBLE) / (n * 1e7)"))
    val spark2 = s
    import spark2.implicits._
    val seed = (for (m <- 0 until 4; c <- 0 until 4; j <- 1 to 16)
      yield (m, c, j, pqCent(m, c, j - 1))).toDF("m", "code", "j", "sv")
    dims.join(broadcast(seed), Seq("m", "code", "j"))
      .withColumn("dq",
        expr("CAST(round((mean - sv) * (mean - sv) * 1e12) AS BIGINT)"))
      .groupBy("m", "code")
      .agg(max("n").as("n_members"), sum("dq").as("sq"))
      .select(col("m").as("subspace"), col("code"), col("n_members"),
        expr("sqrt(CAST(sq AS DOUBLE) / 1e12)").as("shift"))
      .orderBy("subspace", "code")
  }

  private val q168Sql = {
    val dcols = (for (m <- 0 until 4; c <- 0 until 4) yield
      s"${pqDist(m, c, i => s"CAST(embedding[$i] AS DOUBLE)")} AS d_${m}_$c")
      .mkString(",\n  ")
    val codes = (0 until 4).map(m =>
      s"${pqCode(c => s"d_${m}_$c")} AS code$m").mkString(",\n  ")
    val seedRows = (for (m <- 0 until 4; c <- 0 until 4; j <- 1 to 16)
      yield s"($m, $c, $j, ${pqCent(m, c, j - 1)})").mkString(", ")
    s"""WITH e0 AS (SELECT vec_id,
       |  CASE WHEN len(embedding) = 64
       |    AND len(list_filter(embedding, x -> x IS NULL)) = 0 THEN embedding
       |    ELSE error('q168: embedding must have exactly 64 non-null dims')
       |  END AS embedding FROM embeddings),
       |d AS (SELECT vec_id,
       |  $dcols
       |  FROM e0),
       |a AS (SELECT vec_id,
       |  $codes
       |  FROM d),
       |dims AS (SELECT
       |    CAST((i - 1) // 16 AS INTEGER) AS m,
       |    CAST((i - 1) % 16 + 1 AS INTEGER) AS j,
       |    CASE (i - 1) // 16 WHEN 0 THEN a.code0 WHEN 1 THEN a.code1
       |         WHEN 2 THEN a.code2 ELSE a.code3 END AS code,
       |    CAST(round(e.embedding[i]::DOUBLE * 1e7) AS BIGINT) AS xq
       |  FROM e0 e JOIN a USING (vec_id),
       |       unnest(generate_series(1, 64)) AS t(i)),
       |g AS (SELECT m, code, j, count(*) AS n, CAST(sum(xq) AS BIGINT) AS s1q
       |  FROM dims GROUP BY 1, 2, 3),
       |mm AS (SELECT m, code, j, n,
       |    CAST(s1q AS DOUBLE) / (n * 1e7) AS mean FROM g),
       |seed(m, code, j, sv) AS (VALUES $seedRows),
       |sh AS (SELECT mm.m, mm.code, mm.n,
       |    CAST(round((mm.mean - seed.sv) * (mm.mean - seed.sv) * 1e12) AS BIGINT)
       |      AS dq
       |  FROM mm JOIN seed ON seed.m = mm.m AND seed.code = mm.code
       |                   AND seed.j = mm.j)
       |SELECT m AS subspace, code, CAST(max(n) AS BIGINT) AS n_members,
       |  sqrt(CAST(CAST(sum(dq) AS BIGINT) AS DOUBLE) / 1e12) AS shift
       |FROM sh GROUP BY 1, 2 ORDER BY subspace, code""".stripMargin
  }

  /** q140 — semantic dedup (SemDeDup, Abbas et al. 2023 shape): keep one
    * representative of every semantically-near group — the
    * embedding-space analogue of q40's exact text dedup, run before
    * training to cut redundant compute. A vector is dropped when an
    * EARLIER vector (lower vec_id — the deterministic "first seen wins"
    * rule) in its block is within cosine ≥ 0.4.
    *
    * Blocking: (trained k-means cell × hyperplane bucket) — the cell
    * (q124's trained quantizer, broadcast ≤ 8 rows) gives semantic
    * locality so true near-dups share a block; the 2^p-way hyperplane
    * bucket is what BOUNDS the block, because cell sizes are
    * data-dependent (one dominant topic makes a cell quadratic at 100×,
    * exactly q44's label trap). At corpus scale both knobs grow:
    * k ∝ corpus/target-cell-size and more planes, keeping per-block
    * pair counts hash-bounded. Dataflow: broadcast-join assignment +
    * one equi-join on the composite block key + a distinct and a left
    * join — nothing quadratic outside the bounded blocks.
    * SkewStressSpec executes the boundedness claim (dominant cell must
    * shatter across buckets; planted near-dups must drop). One honest
    * limit: a mass of BIT-IDENTICAL vectors cannot be split by any
    * hyperplane (every copy lands in one block) — at corpus scale run
    * exact dedup first (q40's digest groupBy on the raw vector bytes),
    * which removes that mass for the price of one narrow shuffle.
    */
  private val q140: Q = (s, dir) => {
    val e = embVecs(s, dir)
    // assignment carries v; bucket recomputed map-side post-aggregation
    val blocked = assignCells(e, trainedCentroids(e))
      .select(col("vec_id"), col("v"), col("cell"))
      .withColumn("bucket", expr(hyperplaneBucket("v", planesFor(s, dir))))
      // self-joined + re-read for the keep flag: computed once
      .transform(graft.util.QueryCaches.tracked)
    val dropped = blocked.as("a").join(blocked.as("b"),
        col("a.cell") === col("b.cell") && col("a.bucket") === col("b.bucket") &&
          col("b.vec_id") < col("a.vec_id"))
      .filter(round(expr(cosExpr("a.v", "b.v")), 6) >= 0.4)
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    blocked.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("is_dup").isNull.as("keep"))
      .orderBy("vec_id")
  }

  private val q140Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$trainedCentSql,
       |assign AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |$planesCteSql,
       |bits AS (
       |  SELECT e.vec_id, planes.p,
       |    CASE WHEN list_dot_product(e.v, planes.s) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM e CROSS JOIN planes),
       |buckets AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
       |  FROM bits GROUP BY vec_id),
       |ea AS (SELECT a.vec_id, a.v, a.cell, b.bucket
       |  FROM assign a JOIN buckets b USING (vec_id)),
       |dropped AS (
       |  SELECT DISTINCT a.vec_id FROM ea a JOIN ea b
       |    ON a.cell = b.cell AND a.bucket = b.bucket AND b.vec_id < a.vec_id
       |  WHERE round($duckCos, 6) >= 0.4)
       |SELECT ea.vec_id, CAST(ea.cell AS BIGINT) AS cell,
       |  (d.vec_id IS NULL) AS keep
       |FROM ea LEFT JOIN dropped d ON d.vec_id = ea.vec_id
       |ORDER BY ea.vec_id""".stripMargin

  /** q141 — PQ asymmetric-distance (ADC) top-k search: the query path of
    * a shipped PQ index, closing q133's compression loop (q133 encodes,
    * q141 searches the codes). Per query, the 4×4 table of exact
    * integer-quantized squared distances from each query subvector to
    * each codebook centroid is computed ONCE ([[pqDist]], the same
    * generator that builds q133's oracle — one definition, zero drift);
    * per database vector the ADC distance is then 4 table lookups + 3
    * adds over its 8-bit code — never a touch of the original vector.
    *
    * Scale shape: the codes relation is the native
    * [[graft.functions.PqAssign]] pass over
    * the scan (map-side, whole-stage codegen); the distance tables are a
    * |queries|-row broadcast (the 256-term table build runs on 5 rows —
    * if its projection ever falls out of codegen it costs microseconds,
    * unlike q133's per-vector path where the same shape was a real trap);
    * scoring is map-side element_at arithmetic; the per-query top-10 is
    * the bounded [[graft.functions.TopKTagged]] partial+final aggregation
    * (score = −adc, so score-desc = distance-asc; the exact BIGINT adc
    * rides along as the tag). Shuffle volume: ≤ k rows per (query,
    * map task). ADC sums stay < 2^53, so the double score is exact.
    */
  private val q141: Q = (s, dir) => {
    val topk = udaf(new graft.functions.TopKTagged(10))
    val codes = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), expr(s"pq_assign($vd, $pqCodebookSql, 4, 4)").as("pq"))
      .select(col("vec_id"),
        expr("CAST(element_at(pq, 1) AS INT)").as("code0"),
        expr("CAST(element_at(pq, 2) AS INT)").as("code1"),
        expr("CAST(element_at(pq, 3) AS INT)").as("code2"),
        expr("CAST(element_at(pq, 4) AS INT)").as("code3"))
    // per-subspace stages keep each generated expression small; laid out
    // (m·4 + c) + 1 to match PqAssign's codebook order
    val qd = (0 until 4).foldLeft(
        embVecs(s, dir).filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v"))) { (df, m) =>
        df.withColumn(s"dt$m", expr((0 until 4)
          .map(c => pqDist(m, c, j => s"element_at(v, $j)"))
          .mkString("array(", ", ", ")")))
      }
      .select(col("query_id"),
        concat(col("dt0"), col("dt1"), col("dt2"), col("dt3")).as("dt"))
    codes.join(broadcast(qd), col("vec_id") =!= col("query_id"))
      .withColumn("adc",
        expr("element_at(dt, code0 + 1) + element_at(dt, code1 + 5) + " +
          "element_at(dt, code2 + 9) + element_at(dt, code3 + 13)"))
      .groupBy("query_id")
      .agg(topk((-col("adc")).cast("double"), col("vec_id"), col("adc")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.tag").as("adc"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val q141Sql = {
    val dcols = (for (m <- 0 until 4; c <- 0 until 4) yield
      s"${pqDist(m, c, i => s"CAST(embedding[$i] AS DOUBLE)")} AS d_${m}_$c")
      .mkString(",\n  ")
    val codeCols = (0 until 4).map(m =>
      s"${pqCode(c => s"d_${m}_$c")} AS code$m").mkString(",\n  ")
    val adc = (0 until 4).map(m =>
      s"(CASE c.code$m WHEN 0 THEN q.d_${m}_0 WHEN 1 THEN q.d_${m}_1 " +
        s"WHEN 2 THEN q.d_${m}_2 ELSE q.d_${m}_3 END)").mkString(" + ")
    s"""WITH d AS (SELECT vec_id,
       |  $dcols
       |  FROM embeddings),
       |codes AS (SELECT vec_id,
       |  $codeCols
       |  FROM d),
       |qd AS (SELECT * FROM d WHERE vec_id < 5),
       |scored AS (SELECT q.vec_id AS query_id, c.vec_id,
       |    CAST($adc AS BIGINT) AS adc
       |  FROM qd q JOIN codes c ON c.vec_id <> q.vec_id)
       |SELECT query_id, vec_id, adc, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc, vec_id) AS INTEGER) AS rank FROM scored) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q174 — IVF-PQ search: the production ANN index shape, composing the
    * two halves this inventory already ships separately — q126's TRAINED
    * coarse quantizer restricts each query to its 2 probed cells, and
    * within those cells candidates are scored by q141's asymmetric
    * distance over their PQ CODES (4 table lookups + 3 adds per
    * candidate), never their raw vectors. This is the FAISS
    * IVFx,PQy layout: at 100 TB the index stores one byte-quartet per
    * vector partitioned by cell, a query touches |probes|/|cells| of the
    * corpus, and the scan it touches is 64× narrower than the raw
    * embeddings — the two reductions COMPOSE.
    *
    * Scale shape: cell assignment and PQ encoding are one shared
    * map-side pass (the ≤8-row quantizer and 256-double codebook both
    * broadcast, `pq_assign` native and codegen'd); the per-query
    * distance tables ride the ≤10-row probes broadcast; scoring is
    * map-side lookups; the top-10 is the bounded TopKTagged
    * partial+final aggregation. Exact-integer ADC (< 2^53) keeps the
    * ranking bit-identical cross-engine.
    */
  private val q174: Q = (s, dir) => {
    val topkCells = udaf(new graft.functions.TopKByScore(2))
    val topk = udaf(new graft.functions.TopKTagged(10))
    val e = embVecs(s, dir)
    val cent = trainedCentroids(e)
    val assign = graft.util.QueryCaches.tracked(assignCells(e, cent))
    val codes = assign
      .select(col("vec_id"), col("cell"),
        expr(s"pq_assign(v, $pqCodebookSql, 4, 4)").as("pq"))
      .select(col("vec_id"), col("cell"),
        expr("CAST(element_at(pq, 1) AS INT)").as("code0"),
        expr("CAST(element_at(pq, 2) AS INT)").as("code1"),
        expr("CAST(element_at(pq, 3) AS INT)").as("code2"),
        expr("CAST(element_at(pq, 4) AS INT)").as("code3"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probes = q.join(broadcast(cent))
      .select(col("query_id"), col("qv"), col("cell"),
        round(expr(cosExpr("qv", "cv")), 6).as("cs"))
      .groupBy("query_id")
      .agg(topkCells(col("cs"), col("cell")).as("pc"), first(col("qv")).as("qv"))
      .select(col("query_id"), col("qv"), explode(col("pc.id")).as("cell"))
    val qd = (0 until 4).foldLeft(probes) { (df, m) =>
        df.withColumn(s"dt$m", expr((0 until 4)
          .map(c => pqDist(m, c, j => s"element_at(qv, $j)"))
          .mkString("array(", ", ", ")")))
      }
      .select(col("query_id"), col("cell"),
        concat(col("dt0"), col("dt1"), col("dt2"), col("dt3")).as("dt"))
    codes.join(broadcast(qd), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc",
        expr("element_at(dt, code0 + 1) + element_at(dt, code1 + 5) + " +
          "element_at(dt, code2 + 9) + element_at(dt, code3 + 13)"))
      .groupBy("query_id")
      .agg(topk((-col("adc")).cast("double"), col("vec_id"), col("adc")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.tag").as("adc"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** The IVF-PQ CTE chain ending in `scored(query_id, vec_id, adc)` —
    * one definition shared by q174Sql (the ranked search) and q175Sql
    * (its recall audit), so the index the audit measures IS the index
    * the search ships.
    */
  private val ivfpqCtes: String = {
    val dcols = (for (m <- 0 until 4; c <- 0 until 4) yield
      s"${pqDist(m, c, i => s"a.v[$i]")} AS d_${m}_$c").mkString(",\n  ")
    val codeCols = (0 until 4).map(m =>
      s"${pqCode(c => s"d_${m}_$c")} AS code$m").mkString(",\n  ")
    val qdcols = (for (m <- 0 until 4; c <- 0 until 4) yield
      s"${pqDist(m, c, i => s"e.v[$i]")} AS d_${m}_$c").mkString(",\n  ")
    val adc = (0 until 4).map(m =>
      s"(CASE c.code$m WHEN 0 THEN q.d_${m}_0 WHEN 1 THEN q.d_${m}_1 " +
        s"WHEN 2 THEN q.d_${m}_2 ELSE q.d_${m}_3 END)").mkString(" + ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$trainedCentSql,
       |assign AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |d AS (SELECT a.vec_id, a.cell,
       |  $dcols
       |  FROM assign a),
       |codes AS (SELECT vec_id, cell,
       |  $codeCols
       |  FROM d),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(list_dot_product(q.qv, c.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cent c) t WHERE rn <= 2),
       |qd AS (SELECT e.vec_id AS query_id,
       |  $qdcols
       |  FROM e WHERE e.vec_id < 5),
       |scored AS (SELECT p.query_id, c.vec_id, CAST($adc AS BIGINT) AS adc
       |  FROM probes p
       |  JOIN codes c ON c.cell = p.cell AND c.vec_id <> p.query_id
       |  JOIN qd q ON q.query_id = p.query_id)""".stripMargin
  }

  private val q174Sql =
    s"""WITH $ivfpqCtes
       |SELECT query_id, vec_id, adc, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc, vec_id) AS INTEGER) AS rank FROM scored) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** q175 — recall@5 of the IVF-PQ index (q174) against the exact
    * brute-force cosine top-5 — the audit that closes the composed-index
    * loop the way q125/q127 close the raw-vector IVF loop. This number
    * prices BOTH approximations at once (probed cells AND 8-bit codes):
    * the go/no-go check before a 64×-smaller, |probes|/|cells|-cheaper
    * index replaces exact search. Pure composition of two bounded
    * pipelines; recall is an exact small-integer ratio.
    */
  private val q175: Q = (s, dir) => recallAudit(s, dir, q174(s, dir))

  private val q175Sql =
    s"""WITH $exactTop5Cte,
       |$ivfpqCtes,
       |ann AS (SELECT query_id, vec_id, CAST(1 AS BIGINT) AS hit FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc, vec_id) AS rank FROM scored) t WHERE rank <= 5)
       |SELECT exact.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(coalesce(ann.hit, 0)) AS BIGINT) AS hits,
       |  CAST(sum(coalesce(ann.hit, 0)) AS DOUBLE) / count(*) AS recall
       |FROM exact LEFT JOIN ann
       |  ON exact.query_id = ann.query_id AND exact.vec_id = ann.vec_id
       |GROUP BY exact.query_id
       |ORDER BY exact.query_id""".stripMargin

  /** q152 — dimension-truncation recall audit (the Matryoshka/MRL
    * question): if the index stored only the first 16 of 64 dimensions —
    * 4× smaller vectors, 4× cheaper scans at 100 TB — how much of the
    * true cosine top-10 would prefix-cosine retrieval keep? Per query:
    * the exact top-10 under full cosine, the top-10 under 16-dim prefix
    * cosine, and their overlap. This is the measurement that decides a
    * truncation level before re-indexing a corpus.
    *
    * Scale shape: one broadcast of the 5-row query set, both scores
    * computed map-side in the SAME projection (the corpus is scanned
    * once, not once per variant), and ONE grouped aggregation carrying
    * both bounded [[graft.functions.TopKByScore]] states — at most
    * 2·k rows per partition per query cross the shuffle; no ranking
    * window, no second pass. Zero-norm guard per the q44 lesson: Spark
    * 0/0 is NaN (sorts above every score), DuckDB 0/0 is NULL — both
    * sides coerce to 0 so a degenerate prefix can never diverge.
    */
  private val q152: Q = (s, dir) => {
    val topk = udaf(new graft.functions.TopKByScore(10))
    val e = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), expr(vd).as("v"))
      .withColumn("vt", expr("slice(v, 1, 16)"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("vt").as("qt"))
    e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr(s"nanvl(${cosExpr("qv", "v")}, 0D)"), 6).as("cs_full"),
        round(expr(s"nanvl(${cosExpr("qt", "vt")}, 0D)"), 6).as("cs_trunc"))
      .groupBy("query_id")
      .agg(topk(col("cs_full"), col("vec_id")).as("tk_full"),
        topk(col("cs_trunc"), col("vec_id")).as("tk_trunc"))
      .select(col("query_id"),
        expr("size(array_intersect(transform(tk_full, x -> x.id), " +
          "transform(tk_trunc, x -> x.id)))").cast("long").as("n_overlap"))
      .withColumn("recall_at_10", col("n_overlap").cast("double") / 10)
      .orderBy("query_id")
  }

  private val q152Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_slice(embedding::DOUBLE[], 1, 16) AS vt FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv, vt AS qt FROM e WHERE vec_id < 5),
       |scored AS (
       |  -- zero-norm guard as an explicit CASE on the norms, NOT
       |  -- coalesce over the division: with ieee_floating_point_ops
       |  -- (newer DuckDB default) 0/0 is NaN, which coalesce passes
       |  -- through and max() sorts above every real score — the guard
       |  -- must not depend on the engine's division-by-zero mode.
       |  SELECT q.query_id, e.vec_id,
       |    round(CASE WHEN list_dot_product(q.qv, q.qv) = 0
       |                 OR list_dot_product(e.v, e.v) = 0 THEN 0
       |      ELSE list_dot_product(q.qv, e.v)
       |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
       |      END, 6) AS cs_full,
       |    round(CASE WHEN list_dot_product(q.qt, q.qt) = 0
       |                 OR list_dot_product(e.vt, e.vt) = 0 THEN 0
       |      ELSE list_dot_product(q.qt, e.vt)
       |      / (sqrt(list_dot_product(q.qt, q.qt)) * sqrt(list_dot_product(e.vt, e.vt)))
       |      END, 6) AS cs_trunc
       |  FROM q JOIN e ON e.vec_id <> q.query_id),
       |f AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cs_full DESC, vec_id) AS rk FROM scored) WHERE rk <= 10),
       |t AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cs_trunc DESC, vec_id) AS rk FROM scored) WHERE rk <= 10)
       |SELECT f.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
       |  CAST(count(t.vec_id) AS DOUBLE) / 10 AS recall_at_10
       |FROM f LEFT JOIN t ON t.query_id = f.query_id AND t.vec_id = f.vec_id
       |GROUP BY 1 ORDER BY f.query_id""".stripMargin

  /** q158 — SEMANTIC holdout leakage: the embedding-side twin of q156's
    * lexical decontamination audit. Vectors split 98/1/1 train/val/test
    * by the q154 digest-mod discipline (stable: assignment depends only
    * on vec_id, so the holdout stays clean across re-ingests); for every
    * val/test vector, does any TRAIN vector sit within cosine ≥ 0.35 in
    * its hyperplane bucket? q156's 13-gram audit cannot see paraphrased
    * contamination — an eval item rewritten in different words; this is
    * the audit that catches it (and the split-aware application of the
    * q155 paraphrase lesson).
    *
    * Scale shape: directional holdout × train (q145's new-vs-old
    * discipline — candidate volume scales with the ~2% holdout side,
    * never corpus²); candidates come only from q57's hash-bounded
    * hyperplane-bucket equi-join (add planes to shrink blocks); bucket
    * signatures and split buckets are computed once in a shared tracked
    * cache. The LEFT join keeps zero-candidate holdout vectors visible
    * (max cosine coalesced to −2, below any true cosine); the in-join
    * cosine is guarded so a no-match NULL row can never fold into a
    * score on either engine (Spark NaN ≠ DuckDB NULL was the q44
    * zero-norm lesson).
    */
  /** q158 kernel over any (vec_id, embedding) relation — extracted so the
    * spec can plant a verbatim train→holdout copy (identical vectors have
    * identical hyperplane signs, so the collision is guaranteed) and a
    * near-orthogonal holdout vector, and assert leaked/not-leaked.
    */
  private[graft] def semanticLeakage(emb: DataFrame, p: Int = 4): DataFrame = {
    val e = emb
      .select(col("vec_id"), expr(vd).as("v"))
      .withColumn("bucket", expr(hyperplaneBucket("v", p)))
      .withColumn("sb", expr(
        "CAST(conv(substring(md5(cast(vec_id AS string)), 1, 4), 16, 10) AS INT) % 100"))
      .transform(graft.util.QueryCaches.tracked)
    val train = e.filter(col("sb") < 98)
      .select(col("bucket"), col("vec_id").as("tid"), col("v").as("tv"))
    e.filter(col("sb") >= 98)
      .select(col("vec_id"),
        when(col("sb") === 98, "val").otherwise("test").as("split"),
        col("bucket"), col("v"))
      .join(train, Seq("bucket"), "left")
      .select(col("vec_id"), col("split"), col("tid"),
        when(col("tid").isNotNull,
          round(expr(s"nanvl(${cosExpr("v", "tv")}, 0D)"), 6)).as("cs"))
      .groupBy("vec_id", "split")
      .agg(count(col("tid")).as("n_train_cand"),
        coalesce(max(col("cs")), lit(-2.0)).as("max_train_cos"))
      .withColumn("leaked", col("max_train_cos") >= 0.35)
      .orderBy("vec_id")
  }

  private val q158: Q = (s, dir) =>
    semanticLeakage(Tables.spread(Tables.embeddings(s, dir)), planesFor(s, dir))

  private val q158Sql =
    s"""WITH $bucketPairCtes,
       |sp AS (SELECT vec_id, v, bucket,
       |    CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 4)) AS INTEGER) % 100 AS sb
       |  FROM e),
       |train AS (SELECT bucket, vec_id AS tid, v AS tv FROM sp WHERE sb < 98),
       |hold AS (SELECT vec_id,
       |    CASE WHEN sb = 98 THEN 'val' ELSE 'test' END AS split, bucket, v
       |  FROM sp WHERE sb >= 98),
       |j AS (SELECT h.vec_id, h.split, t.tid,
       |    -- explicit zero-norm CASE (not coalesce over the division):
       |    -- ieee mode makes 0/0 NaN, which would survive coalesce and
       |    -- win max(), flipping `leaked` where Spark reports false
       |    CASE WHEN t.tid IS NOT NULL THEN round(
       |      CASE WHEN list_dot_product(h.v, h.v) = 0
       |             OR list_dot_product(t.tv, t.tv) = 0 THEN 0
       |      ELSE list_dot_product(h.v, t.tv)
       |        / (sqrt(list_dot_product(h.v, h.v)) * sqrt(list_dot_product(t.tv, t.tv)))
       |      END, 6) END AS cs
       |  FROM hold h LEFT JOIN train t USING (bucket))
       |SELECT vec_id, split, CAST(count(tid) AS BIGINT) AS n_train_cand,
       |  coalesce(max(cs), CAST(-2.0 AS DOUBLE)) AS max_train_cos,
       |  coalesce(max(cs), CAST(-2.0 AS DOUBLE)) >= 0.35 AS leaked
       |FROM j GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  /** q160 — kNN label-consistency audit: per label, the fraction of each
    * member's top-3 in-bucket neighbors (q136's graph, shared kernel)
    * that carry the SAME label — the standard embedding-quality /
    * label-noise probe (a kNN classifier's leave-one-out agreement). A
    * label whose members' neighbors mostly belong elsewhere is either
    * mislabeled or its embedding region is entangled — the signal that
    * decides whether label-conditioned dedup (q44) and per-label
    * centroids (q51/q115) can be trusted on this corpus.
    *
    * Scale shape: q136's bounded kNN edges (≤3 per vector) joined twice
    * against the 2-column (vec_id, label) relation — edge volume is 3n,
    * label lookups are narrow equi-joins, and the final aggregate is
    * |labels| rows of exact BIGINT counts with one IEEE divide.
    */
  private val q160: Q = (s, dir) => {
    val lb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    knnNeighbors(s, dir)
      .select(col("vec_id"), col("neighbor_id"))
      .join(lb, "vec_id")
      .join(lb.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
        "neighbor_id")
      .groupBy("label")
      .agg(countDistinct(col("vec_id")).as("n_vecs"),
        count(lit(1)).as("n_edges"),
        sum(when(col("label") === col("n_label"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("label"), col("n_vecs"), col("n_edges"), col("n_agree"),
        (col("n_agree").cast("double") / col("n_edges").cast("double"))
          .as("agree_rate"))
      .orderBy("label")
  }

  private val q160Sql =
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT vec_id, neighbor_id, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored) t
       |  WHERE rk <= 3),
       |lb AS (SELECT vec_id, label FROM embeddings)
       |SELECT la.label,
       |  CAST(count(DISTINCT k.vec_id) AS BIGINT) AS n_vecs,
       |  CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(sum(CASE WHEN la.label = nb.label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  CAST(sum(CASE WHEN la.label = nb.label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS agree_rate
       |FROM knn k
       |JOIN lb la ON la.vec_id = k.vec_id
       |JOIN lb nb ON nb.vec_id = k.neighbor_id
       |GROUP BY 1 ORDER BY la.label""".stripMargin

  /** q167 — lexical-vs-semantic dedup AGREEMENT: do MinHash clusters
    * (q56, exact 3-shingle evidence) and embedding clusters (q129,
    * cosine evidence) tell the same duplication story? One row: the two
    * clusterings' coverage, the pair counts each side groups together
    * over the SHARED ids, and the adjusted Rand index between them.
    * High ARI = the cheap lexical pass already finds what the embedding
    * pass finds (skip the GPU embeddings for dedup); low ARI = the two
    * passes see DIFFERENT duplication (paraphrase mass — q155's
    * population — or LSH recall gaps), so a production dedup needs both.
    * The doc/vec id spaces coincide in this corpus (FIXTURES.md), which
    * is what makes the join meaningful.
    *
    * Scale shape: both cluster relations come from the O(log d)
    * [[TextDedup.connectedComponents]] kernels over already-bounded edge
    * sets and hold only docs that appear in some duplicate pair — tiny
    * relative to the corpus. The ARI is computed from CONTINGENCY
    * MARGINALS (Σ C(n_ij,2) over cells, Σ C(n_a,2)/Σ C(n_b,2) over the
    * two marginal distributions) — exact BIGINT pair counts from three
    * aggregates over the |shared|-row join, never a materialized pair
    * relation; the index itself is one IEEE expression of those integers
    * (degenerate zero denominator = perfect-agreement 1.0 by
    * convention, decided on an exactly-computed double both engines
    * derive identically).
    */
  private val q167: Q = (s, dir) => {
    val comb2 = (c: String) => expr(s"($c * ($c - 1)) div 2")
    // both cluster relations come from the keyed shared registry: in a
    // composed job that already ran q56/q129 (or runs q167 twice), the
    // CC pipelines are NOT re-executed here
    val tcc = TextDedup.lexicalClusters(s, dir)
      .select(col("doc_id"), col("label").as("tc"))
    val ecc = embedClusters(s, dir)
      .select(col("doc_id"), col("label").as("sc"))
    // contingency input: docs clustered on BOTH sides (4 aggregate
    // consumers — persisted)
    val j = graft.util.QueryCaches.tracked(tcc.join(ecc, "doc_id"))
    val pairsBoth = j.groupBy("tc", "sc").agg(count(lit(1)).as("nij"))
      .agg(coalesce(sum(comb2("nij")), lit(0L)).as("pairs_both"))
    val pairsText = j.groupBy("tc").agg(count(lit(1)).as("na"))
      .agg(coalesce(sum(comb2("na")), lit(0L)).as("pairs_text"))
    val pairsEmbed = j.groupBy("sc").agg(count(lit(1)).as("nb"))
      .agg(coalesce(sum(comb2("nb")), lit(0L)).as("pairs_embed"))
    val nShared = j.agg(count(lit(1)).as("n_shared"))
    val nText = tcc.agg(count(lit(1)).as("n_text_clustered"))
    val nEmbed = ecc.agg(count(lit(1)).as("n_embed_clustered"))
    nText.crossJoin(broadcast(nEmbed)).crossJoin(broadcast(nShared))
      .crossJoin(broadcast(pairsText)).crossJoin(broadcast(pairsEmbed))
      .crossJoin(broadcast(pairsBoth)) // all 1-row scalar broadcasts
      .withColumn("n_pairs", expr("(n_shared * (n_shared - 1)) div 2"))
      .withColumn("ari", expr(AriExpr))
      .select(col("n_text_clustered"), col("n_embed_clustered"),
        col("n_shared"), col("n_pairs"), col("pairs_text"),
        col("pairs_embed"), col("pairs_both"), col("ari"))
  }

  /** The ARI finishing expression — ONE text interpolated into both the
    * Spark plan and the DuckDB oracle, so the float arithmetic (and the
    * degenerate-denominator convention) cannot drift.
    */
  private val AriExpr =
    """CASE WHEN n_pairs = 0
      |  OR (CAST(pairs_text + pairs_embed AS DOUBLE) / 2
      |      - CAST(pairs_text AS DOUBLE) * CAST(pairs_embed AS DOUBLE)
      |        / CAST(n_pairs AS DOUBLE)) = 0
      |THEN CAST(1.0 AS DOUBLE)
      |ELSE (CAST(pairs_both AS DOUBLE)
      |      - CAST(pairs_text AS DOUBLE) * CAST(pairs_embed AS DOUBLE)
      |        / CAST(n_pairs AS DOUBLE))
      |   / (CAST(pairs_text + pairs_embed AS DOUBLE) / 2
      |      - CAST(pairs_text AS DOUBLE) * CAST(pairs_embed AS DOUBLE)
      |        / CAST(n_pairs AS DOUBLE)) END""".stripMargin

  private val q167Sql =
    s"""WITH RECURSIVE
       |${TextDedup.clusterCtes},
       |$embClusterCtes,
       |j AS (SELECT cc.doc_id, cc.cluster_id AS tc, ecc.cluster_id AS sc
       |  FROM cc JOIN ecc ON ecc.vec_id = cc.doc_id),
       |cells AS (SELECT tc, sc, CAST(count(*) AS BIGINT) AS nij
       |  FROM j GROUP BY 1, 2),
       |agg AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM cc) AS n_text_clustered,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ecc) AS n_embed_clustered,
       |  (SELECT CAST(count(*) AS BIGINT) FROM j) AS n_shared,
       |  (SELECT CAST(coalesce(sum((nij * (nij - 1)) // 2), 0) AS BIGINT)
       |     FROM cells) AS pairs_both,
       |  (SELECT CAST(coalesce(sum((na * (na - 1)) // 2), 0) AS BIGINT) FROM
       |     (SELECT CAST(count(*) AS BIGINT) AS na FROM j GROUP BY tc))
       |    AS pairs_text,
       |  (SELECT CAST(coalesce(sum((nb * (nb - 1)) // 2), 0) AS BIGINT) FROM
       |     (SELECT CAST(count(*) AS BIGINT) AS nb FROM j GROUP BY sc))
       |    AS pairs_embed)
       |SELECT n_text_clustered, n_embed_clustered, n_shared, n_pairs,
       |  pairs_text, pairs_embed, pairs_both, ari
       |FROM (SELECT *, $AriExpr AS ari
       |  FROM (SELECT *, (n_shared * (n_shared - 1)) // 2 AS n_pairs
       |        FROM agg) t1) t2""".stripMargin

  /** q215 — degree assortativity of the kNN graph: the Pearson
    * correlation of endpoint total degrees over the directed edge list —
    * the third graph-health number next to q191's hubness and q198's
    * reciprocity (disassortative r < 0 means hubs attach to leaves: the
    * graph funnels through few vectors, and graph-walk sampling or
    * propagation over it will over-visit them). Degrees are exact
    * BIGINTs; the five correlation moments accumulate under the
    * [[graft.util.MomentGuard]] per-term product + n·max sum
    * certificates, and r is one same-order IEEE derivation at the end.
    * Scale shape: the SHARED bounded edge relation (≤3|V| rows) joined
    * twice against its own degree rollup — two narrow equi-joins and a
    * 1-row fold; vectors never cross any join.
    */
  private val q215: Q = (s, dir) => {
    import graft.util.MomentGuard
    val edges = graft.util.QueryCaches.tracked(knnNeighbors(s, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst")))
    val deg = graft.util.QueryCaches.tracked(
      edges.select(col("src").as("v"))
        .unionByName(edges.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg")))
    val m = edges
      .join(deg.select(col("v").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("y")), "dst")
      .select(col("x"), col("y"),
        expr(MomentGuard.productGuardSpark("x", "y", "q215")).as("xy"),
        expr(MomentGuard.productGuardSpark("x", "x", "q215")).as("xx"),
        expr(MomentGuard.productGuardSpark("y", "y", "q215")).as("yy"))
      .agg(count(lit(1)).as("n_edges"), sum("x").as("sx"), sum("y").as("sy"),
        sum("xy").as("sxy"), sum("xx").as("sxx"), sum("yy").as("syy"),
        max("xy").as("mxy"), max("xx").as("mxx"), max("yy").as("myy"))
      .select(col("n_edges"), col("sx"), col("sy"),
        expr(MomentGuard.sumGuardSpark("sxy", "n_edges", "mxy", "q215"))
          .as("sxy"),
        expr(MomentGuard.sumGuardSpark("sxx", "n_edges", "mxx", "q215"))
          .as("sxx"),
        expr(MomentGuard.sumGuardSpark("syy", "n_edges", "myy", "q215"))
          .as("syy"))
    m.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"), col("n_edges"),
        (lit(2.0) * col("n_edges").cast("double") /
          col("n_nodes").cast("double")).as("mean_degree"),
        expr(
          """CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |  * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
            |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0 THEN 0D
            |ELSE (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  / sqrt((CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
            |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |    * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
            |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            |END""".stripMargin).as("assortativity"))
  }

  private val q215Sql: String = {
    import graft.util.MomentGuard
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |ed AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT src AS v FROM ed UNION ALL SELECT dst AS v FROM ed)
       |  GROUP BY 1),
       |p AS (SELECT dx.deg AS x, dy.deg AS y,
       |    ${MomentGuard.productGuardDuck("dx.deg", "dy.deg", "q215")} AS xy,
       |    ${MomentGuard.productGuardDuck("dx.deg", "dx.deg", "q215")} AS xx,
       |    ${MomentGuard.productGuardDuck("dy.deg", "dy.deg", "q215")} AS yy
       |  FROM ed JOIN deg dx ON dx.v = ed.src
       |  JOIN deg dy ON dy.v = ed.dst),
       |m0 AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(xy) AS BIGINT) AS sxy, CAST(sum(xx) AS BIGINT) AS sxx,
       |    CAST(sum(yy) AS BIGINT) AS syy,
       |    CAST(max(xy) AS BIGINT) AS mxy, CAST(max(xx) AS BIGINT) AS mxx,
       |    CAST(max(yy) AS BIGINT) AS myy FROM p),
       |m AS (SELECT n_edges, sx, sy,
       |    ${MomentGuard.sumGuardDuck("sxy", "n_edges", "mxy", "q215")}
       |      AS sxy,
       |    ${MomentGuard.sumGuardDuck("sxx", "n_edges", "mxx", "q215")}
       |      AS sxx,
       |    ${MomentGuard.sumGuardDuck("syy", "n_edges", "myy", "q215")}
       |      AS syy FROM m0),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
       |SELECT nn.n_nodes, m.n_edges,
       |  2.0 * CAST(m.n_edges AS DOUBLE) / CAST(nn.n_nodes AS DOUBLE)
       |    AS mean_degree,
       |  CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |    * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
       |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0 THEN 0.0
       |  ELSE (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / sqrt((CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |  END AS assortativity
       |FROM m CROSS JOIN nn""".stripMargin
  }

  /** q216 — graph-walk candidate recall: for q45's query vectors, the
    * recall@5 of the exact top-5 achieved by expanding the SHARED kNN
    * graph 1 hop (the query's own adjacency list) vs 2 hops
    * (neighbors-of-neighbors) — the NSW/HNSW-style routing premise,
    * measured: 2-hop expansion escapes the query's hyperplane bucket
    * through its neighbors' buckets, recovering true neighbors the LSH
    * blocking split while touching ≤ k + k² candidates instead of N.
    * The recall lift from row 1 to row 2 is the argument for graph
    * routing over flat bucket probing at 100 TB. Scale shape: the
    * 2-hop set is one self-equi-join of the bounded (≤3 out-degree)
    * edge relation restricted to query sources; the audit joins it
    * against the exact ground truth on (query, vec) — never a scan of
    * the vectors.
    */
  private val q216: Q = (s, dir) => {
    val edges = graft.util.QueryCaches.tracked(knnNeighbors(s, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst")))
    val hop1 = edges.filter(col("src") < 5)
      .select(col("src").as("query_id"), col("dst").as("cand"))
    val hop2 = hop1.join(edges, hop1("cand") === edges("src"))
      .select(col("query_id"), col("dst").as("cand"))
    val cand1 = hop1.distinct()
    val cand2 = hop1.unionByName(hop2)
      .filter(col("cand") =!= col("query_id")).distinct()
    val exact = graft.util.QueryCaches.tracked(
      q45(s, dir).filter(col("rank") <= 5)
        .select(col("query_id"), col("vec_id")))
    def rec(depth: Int, c: DataFrame): DataFrame =
      exact.join(c.select(col("query_id"), col("cand").as("vec_id"),
          lit(1L).as("hit")), Seq("query_id", "vec_id"), "left")
        .agg(count(lit(1)).as("k_total"),
          sum(coalesce(col("hit"), lit(0L))).as("hits_total"))
        .select(lit(depth).as("hop_depth"), col("k_total"),
          col("hits_total"),
          (col("hits_total").cast("double") /
            col("k_total").cast("double")).as("recall"))
    rec(1, cand1).unionByName(rec(2, cand2)).orderBy("hop_depth")
  }

  private val q216Sql =
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |ed AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
       |h1 AS (SELECT DISTINCT src AS query_id, dst AS cand FROM ed
       |  WHERE src < 5),
       |h2 AS (SELECT query_id, cand FROM h1
       |  UNION SELECT q.query_id, e.dst AS cand
       |  FROM h1 q JOIN ed e ON e.src = q.cand
       |  WHERE e.dst <> q.query_id),
       |$exactTop5Cte,
       |r1 AS (SELECT 1 AS hop_depth, CAST(count(*) AS BIGINT) AS k_total,
       |    CAST(sum(CASE WHEN h1.cand IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits_total
       |  FROM exact LEFT JOIN h1 ON h1.query_id = exact.query_id
       |    AND h1.cand = exact.vec_id),
       |r2 AS (SELECT 2 AS hop_depth, CAST(count(*) AS BIGINT) AS k_total,
       |    CAST(sum(CASE WHEN h2.cand IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits_total
       |  FROM exact LEFT JOIN h2 ON h2.query_id = exact.query_id
       |    AND h2.cand = exact.vec_id)
       |SELECT hop_depth, k_total, hits_total,
       |  CAST(hits_total AS DOUBLE) / CAST(k_total AS DOUBLE) AS recall
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
       |ORDER BY hop_depth""".stripMargin

  /** q220 — cluster medoid election: for every resolved embedding-dedup
    * cluster (the SHARED q129 relation), the member minimizing total
    * cosine distance to its cluster-mates — the embedding-space
    * survivorship rule (keep the most central exemplar) complementing
    * q144's quality-based and q129's min-id canonical picks, and the
    * per-cluster centroid-without-averaging a downstream index keeps
    * when raw-vector means are meaningless (e.g. after normalization
    * drift, q207). Determinism: pair distances quantize
    * `round((1−cos₆)·1e6)::BIGINT` so per-member sums are exact in any
    * order, and the argmin ties break on vec_id via lexicographic
    * struct-min (q69's discipline). Scale shape: the pair join blocks
    * on cluster_id — near-dup clusters are small by construction (q162
    * audits the size histogram), so per-block cost is bounded; sums are
    * partial+final; no windows on the Spark side.
    */
  private val q220: Q = (s, dir) => {
    val m = graft.util.QueryCaches.tracked(
      embedClusters(s, dir)
        .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
        .join(embVecs(s, dir), "vec_id"))
    m.as("a").join(m.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.cluster_id").as("cluster_id"),
        col("a.vec_id").as("vec_id"),
        expr(s"CAST(round((1.0 - round(${cosExpr("a.v", "b.v")}, 6)) * 1e6)" +
          " AS BIGINT)").as("dq"))
      .groupBy("cluster_id", "vec_id")
      .agg(sum("dq").as("sumq"), count(lit(1)).as("cnt"))
      .groupBy("cluster_id")
      .agg(min(struct(col("sumq"), col("vec_id"))).as("m"),
        (max("cnt") + 1).as("size"), sum("sumq").as("tot"))
      .select(col("cluster_id"), col("size"),
        col("m.vec_id").as("medoid_id"),
        (col("m.sumq").cast("double") / 1e6 /
          (col("size") - 1).cast("double")).as("medoid_mean_dist"),
        (col("tot").cast("double") / 1e6 /
          (col("size").cast("double") * (col("size") - 1).cast("double")))
          .as("cluster_mean_dist"))
      .orderBy("cluster_id")
  }

  private val q220Sql =
    s"""WITH RECURSIVE
       |$embClusterCtes,
       |mem AS (SELECT ecc.vec_id, ecc.cluster_id, e0.v
       |  FROM ecc JOIN e0 USING (vec_id)),
       |pd AS (SELECT a.cluster_id, a.vec_id,
       |    CAST(round((1.0 - round($duckCos, 6)) * 1e6) AS BIGINT) AS dq
       |  FROM mem a JOIN mem b ON a.cluster_id = b.cluster_id
       |    AND a.vec_id <> b.vec_id),
       |ps AS (SELECT cluster_id, vec_id, CAST(sum(dq) AS BIGINT) AS sumq,
       |    CAST(count(*) AS BIGINT) AS cnt FROM pd GROUP BY 1, 2),
       |ag AS (SELECT cluster_id, sumq, vec_id AS medoid_id, size, tot
       |  FROM (SELECT ps.*,
       |      CAST(max(cnt) OVER (PARTITION BY cluster_id) + 1 AS BIGINT)
       |        AS size,
       |      CAST(sum(sumq) OVER (PARTITION BY cluster_id) AS BIGINT)
       |        AS tot,
       |      row_number() OVER (PARTITION BY cluster_id
       |        ORDER BY sumq, vec_id) AS rn
       |    FROM ps) t WHERE rn = 1)
       |SELECT cluster_id, size, medoid_id,
       |  CAST(sumq AS DOUBLE) / 1e6 / CAST(size - 1 AS DOUBLE)
       |    AS medoid_mean_dist,
       |  CAST(tot AS DOUBLE) / 1e6
       |    / (CAST(size AS DOUBLE) * CAST(size - 1 AS DOUBLE))
       |    AS cluster_mean_dist
       |FROM ag ORDER BY cluster_id""".stripMargin

  /** Undirected distinct kNN edge set — keyed-shared by q233 (k-core)
    * and q237 (eigenvector centrality), so a composed graph-health job
    * pays the directed-edge build + symmetrize once. */
  private def undirectedKnnEdges(s: SparkSession, dir: String): DataFrame =
    graft.util.QueryCaches.keyed(s"knn:und:$dir") {
      knnNeighbors(s, dir)
        .select(least(col("vec_id"), col("neighbor_id")).as("a"),
          greatest(col("vec_id"), col("neighbor_id")).as("b"))
        .distinct()
    }

  /** Symmetrized (src, dst) view of [[undirectedKnnEdges]] — the union+
    * distinct symmetrization is the relation every message-passing kernel
    * iterates over, so it is keyed-shared: LPA (q267/q268) and the
    * eigencentrality power iteration (q237) previously each built their
    * own copy (round-8 verdict item 3) and a composed graph-health job
    * paid the build per consumer. One build per undrained session now.
    */
  private[ops] def symKnnEdges(s: SparkSession, dir: String): DataFrame =
    graft.util.QueryCaches.keyed(s"knn:sym:$dir") {
      val und = undirectedKnnEdges(s, dir)
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    }

  /** q267 — label-propagation communities over the kNN graph: three
    * SYNCHRONOUS rounds of "adopt the most frequent neighbor label,
    * ties to the smallest" starting from self-labels — the community-
    * detection complement of [[TextDedup.connectedComponents]] (CC
    * answers "connected at all?", LPA answers "densely knit with
    * whom?"; near-dup components merge through single bridge edges,
    * communities do not). Synchronous update + the total (count desc,
    * label asc) tie-break makes every round a DETERMINISTIC function
    * of the previous one, so both engines converge identically —
    * asynchronous LPA's order-dependence is exactly what a
    * distributed, cross-engine-verified implementation cannot ship.
    * Per round: one edge⋈label equi-join, a (node, label) count, and
    * a max_by((c, −label)) argmax — never a ranking window — with
    * [[graft.util.Lineage]] truncation (the q233/q237 discipline; the
    * oracle's rounds are AS MATERIALIZED for the same reason). Output:
    * community sizes after round 3. Third consumer of the keyed-shared
    * undirected edge relation.
    */
  /** LPA label relation (v, lbl) after three synchronous rounds —
    * keyed-shared so q267 (community sizes) and q268 (modularity) pay
    * the propagation once per composed session.
    */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    graft.util.QueryCaches.keyed(s"knn:lpa:$dir") {
      val sym = symKnnEdges(s, dir)
      var labels = graft.util.Lineage.truncate(
        sym.select(col("src").as("v")).distinct()
          .withColumn("lbl", col("v")))
      // each round reads `labels` once; the cut runs the round's
      // shuffle stages now and its final stage in the next round's
      for (_ <- 1 to 3) {
        labels = graft.util.Lineage.truncate(sym
          .join(labels.select(col("v").as("dst"), col("lbl").as("nl")), "dst")
          .groupBy(col("src"), col("nl")).agg(count(lit(1)).as("c"))
          .groupBy(col("src").as("v"))
          .agg(max_by(col("nl"),
            struct(col("c"), (-col("nl")).as("t"))).as("lbl")))
      }
      labels
    }

  private val q267: Q = (s, dir) =>
    lpaLabels(s, dir).groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("community")

  /** Oracle twin of [[lpaLabels]] — shared by q267Sql/q268Sql so the
    * propagation definition cannot drift between consumers. Ends with
    * `l3(v, lbl)`; rounds are AS MATERIALIZED (the q233 CTE-inlining
    * lesson). */
  private[ops] val lpaCtes: String = {
    def round(i: Int): String = {
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""l$i AS MATERIALIZED (SELECT src AS v, nl AS lbl FROM (
         |  SELECT s.src, l.lbl AS nl, count(*) AS c,
         |    row_number() OVER (PARTITION BY s.src
         |      ORDER BY count(*) DESC, l.lbl) AS rn
         |  FROM sym s JOIN $prev l ON l.v = s.dst
         |  GROUP BY s.src, l.lbl) t WHERE rn = 1)""".stripMargin
    }
    s"""$knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |und AS MATERIALIZED (SELECT DISTINCT least(vec_id, neighbor_id) AS a,
       |    greatest(vec_id, neighbor_id) AS b FROM knn),
       |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b, a FROM und),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM sym),
       |${(1 to 3).map(round).mkString(",\n")}""".stripMargin
  }

  private val q267Sql: String =
    s"""WITH $lpaCtes
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
       |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin

  /** q268 — Newman modularity of q267's communities:
    * Q = Σ_c [e_c/m − (d_c/2m)²] over the kNN graph — the single
    * number that says whether the LPA partition is STRUCTURE (Q ≫ 0)
    * or noise (Q ≈ 0), i.e. whether community-aware sharding/sampling
    * of the corpus would beat random. e_c (intra-community edges),
    * d_c (community degree mass), and m are exact BIGINTs; each
    * community's term is ONE shared IEEE expression quantized
    * `round(·1e9)::BIGINT` before the cross-community sum (shuffle-
    * order-independent). Composes the keyed-shared [[lpaLabels]] and
    * [[undirectedKnnEdges]] relations — in a composed graph-health job
    * the propagation and the edge build are already paid. Dataflow:
    * two narrow label equi-joins, a degree rollup, and a ≤|communities|
    * aggregate with a 1-row m broadcast.
    */
  private val q268: Q = (s, dir) => {
    val labels = lpaLabels(s, dir)
    val und = undirectedKnnEdges(s, dir)
    val m = und.agg(count(lit(1)).as("m"))
    val intra = und
      .join(labels.select(col("v").as("a"), col("lbl").as("ca")), "a")
      .join(labels.select(col("v").as("b"), col("lbl").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_c"))
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val dc = labels.join(deg, "v")
      .groupBy(col("lbl").as("community")).agg(sum("deg").as("d_c"))
    val termQ =
      """CAST(round((CAST(e_c AS DOUBLE) / CAST(m AS DOUBLE)
        |  - (CAST(d_c AS DOUBLE) / (2 * CAST(m AS DOUBLE)))
        |    * (CAST(d_c AS DOUBLE) / (2 * CAST(m AS DOUBLE))))
        |  * 1e9) AS BIGINT)""".stripMargin
    dc.join(intra, Seq("community"), "left")
      .select(col("d_c"), coalesce(col("e_c"), lit(0L)).as("e_c"))
      .crossJoin(broadcast(m))
      .select(expr(termQ).as("tq"))
      .agg(count(lit(1)).as("n_communities"), sum("tq").as("mq"))
      .crossJoin(broadcast(m))
      .select(col("n_communities"), col("m").as("n_edges"),
        (col("mq").cast("double") / 1e9).as("modularity"))
  }

  private val q268Sql: String =
    s"""WITH $lpaCtes,
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY 1),
       |dc AS (SELECT l.lbl AS community, CAST(sum(deg) AS BIGINT) AS d_c
       |  FROM l3 l JOIN deg ON deg.v = l.v GROUP BY 1),
       |intra AS (SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS e_c
       |  FROM und JOIN l3 la ON la.v = und.a
       |           JOIN l3 lb ON lb.v = und.b
       |  WHERE la.lbl = lb.lbl GROUP BY 1),
       |terms AS (SELECT CAST(round((CAST(coalesce(intra.e_c, 0) AS DOUBLE)
       |      / CAST(m.m AS DOUBLE)
       |    - (CAST(dc.d_c AS DOUBLE) / (2 * CAST(m.m AS DOUBLE)))
       |      * (CAST(dc.d_c AS DOUBLE) / (2 * CAST(m.m AS DOUBLE))))
       |    * 1e9) AS BIGINT) AS tq
       |  FROM dc LEFT JOIN intra USING (community) CROSS JOIN m)
       |SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |  m.m AS n_edges,
       |  CAST(CAST(sum(tq) AS BIGINT) AS DOUBLE) / 1e9 AS modularity
       |FROM terms CROSS JOIN m GROUP BY m.m""".stripMargin

  /** q233 — 2-core peeling of the kNN graph: iteratively remove nodes
    * with (undirected) degree < 2 and report the survivor curve — the
    * degeneracy view that separates the graph's connected "body" from
    * its pendant fringe (pendant vectors are exactly the ones whose
    * kNN edges are least trustworthy for propagation/dedup, the
    * actionable complement to q205's triangle census). Five peeling
    * rounds as DECLARED dataflow (q181's Pregel discipline): each round
    * is one degree rollup over the current edge set + two semi-joins —
    * O(rounds) bounded shuffles in ONE plan, no driver-side loop state,
    * no windows; the curve flattening at round k IS the convergence
    * certificate. Exact integers throughout.
    */
  private val q233: Q = (s, dir) => {
    var edges = undirectedKnnEdges(s, dir)
    val curve = (1 to 5).map { i =>
      val deg = edges.select(col("a").as("v"))
        .unionByName(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      // keep is consumed THREE times per round (both semi-joins + the
      // survivor count): persist it so the degree rollup runs once per
      // round, not three times (round-9 tail measurement)
      val keep = graft.util.QueryCaches.tracked(
        deg.filter(col("deg") >= 2).select("v"))
      // Lineage cut EVERY round: the two semi-joins reference the
      // previous round TWICE, so an uncut chain carries a 2^rounds
      // logical tree through analysis/codegen (this OOM'd the driver
      // before truncation). The cut runs the semi-joins' shuffle stages
      // now; its final stage runs once, in the first job that reads it
      // (the next round's cut or the curve's action), and every later
      // reader scans its blocks. The survivor edge set is bounded
      // (≤3|V|), so each round plans against a small cut.
      edges = graft.util.Lineage.truncate(edges
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi"))
      keep.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
        .select(lit(i).as("round"), col("n_nodes"), col("n_edges"))
    }
    curve.reduce(_.unionByName(_)).orderBy("round")
  }

  private val q233Sql: String = {
    def round(i: Int): String = {
      val prev = if (i == 1) "ke0" else s"ke${i - 1}"
      s"""d_$i AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS v FROM $prev UNION ALL SELECT b AS v FROM $prev)
         |  GROUP BY 1),
         |k_$i AS MATERIALIZED (SELECT v FROM d_$i WHERE deg >= 2),
         |ke$i AS MATERIALIZED (SELECT e.a, e.b FROM $prev e
         |  WHERE EXISTS (SELECT 1 FROM k_$i WHERE k_$i.v = e.a)
         |    AND EXISTS (SELECT 1 FROM k_$i WHERE k_$i.v = e.b)),
         |c_$i AS (SELECT $i AS round,
         |    (SELECT CAST(count(*) AS BIGINT) FROM k_$i) AS n_nodes,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ke$i) AS n_edges)"""
        .stripMargin
    }
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |ke0 AS MATERIALIZED (SELECT DISTINCT least(vec_id, neighbor_id) AS a,
       |    greatest(vec_id, neighbor_id) AS b FROM knn),
       |${(1 to 5).map(round).mkString(",\n")}
       |SELECT * FROM (SELECT * FROM c_1 UNION ALL SELECT * FROM c_2
       |  UNION ALL SELECT * FROM c_3 UNION ALL SELECT * FROM c_4
       |  UNION ALL SELECT * FROM c_5) ORDER BY round""".stripMargin
  }

  /** q237 — eigenvector centrality of the kNN graph: four power
    * iterations of v ← A·v over the undirected adjacency, max-normalized
    * and re-quantized to `round(·1e6)::BIGINT` after every round so the
    * accumulation each round is EXACT integer sums in any shuffle order
    * (q181's determinism discipline with a different normalizer: PageRank
    * conserves mass by floor-division, centrality renormalizes by the
    * 1-row broadcast max). Overflow headroom is structural: per-node
    * sums are ≤ degree·1e6, inside BIGINT until ~9·10¹² neighbors.
    * Complements q181 (flow centrality) and q191 (raw in-degree): a hub
    * whose neighbors are themselves hubs outranks an equal-degree
    * periphery node here. Each round is one equi-join + partial+final
    * sum over the bounded edge relation with a lineage cut per round
    * (the q233 lesson); top-10 is TakeOrdered, never a window.
    */
  private val q237: Q = (s, dir) => {
    val sym = symKnnEdges(s, dir)
    var v = graft.util.Lineage.truncate(
      sym.select(col("src").as("v")).distinct()
        .withColumn("vq", lit(1000000L)))
    // av is referenced twice per round (sum + its max normalizer), so an
    // uncut round would double the subtree: every round ends in a cut,
    // which runs the round's shuffle stages now and leaves its final
    // projection to the next round's first job
    for (_ <- 1 to 4) {
      // av is consumed twice per round (its max normalizer rides a
      // broadcast subquery of the same action): persist it so the
      // edge-join + sum — the round's dominant cost at scale — runs
      // once, not twice (round-9 tail measurement)
      val av = graft.util.QueryCaches.tracked(sym
        .join(v.select(col("v").as("dst"), col("vq").as("dvq")), "dst")
        .groupBy("src").agg(sum("dvq").as("av")))
      val mx = av.agg(max("av").as("mx"))
      v = graft.util.Lineage.truncate(av.crossJoin(broadcast(mx))
        .select(col("src").as("v"),
          expr("CAST(round(CAST(av AS DOUBLE) / CAST(mx AS DOUBLE) * 1e6)" +
            " AS BIGINT)").as("vq")))
    }
    v.orderBy(col("vq").desc, col("v")).limit(10)
      .select(col("v").as("vec_id"), col("vq").as("score_q"),
        (col("vq").cast("double") / 1e6).as("score"))
  }

  private val q237Sql: String = {
    def round(i: Int): String =
      s"""av_$i AS MATERIALIZED (SELECT sym.src,
         |    CAST(sum(p.vq) AS BIGINT) AS av
         |  FROM sym JOIN v_${i - 1} p ON p.v = sym.dst GROUP BY 1),
         |mx_$i AS (SELECT CAST(max(av) AS BIGINT) AS mx FROM av_$i),
         |v_$i AS MATERIALIZED (SELECT src AS v,
         |    CAST(round(CAST(av AS DOUBLE) / CAST(mx AS DOUBLE) * 1e6)
         |      AS BIGINT) AS vq
         |  FROM av_$i CROSS JOIN mx_$i)""".stripMargin
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |ue AS MATERIALIZED (SELECT DISTINCT least(vec_id, neighbor_id)
       |    AS a, greatest(vec_id, neighbor_id) AS b FROM knn),
       |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ue
       |  UNION ALL SELECT b AS src, a AS dst FROM ue),
       |v_0 AS MATERIALIZED (SELECT DISTINCT src AS v,
       |    CAST(1000000 AS BIGINT) AS vq FROM sym),
       |${(1 to 4).map(round).mkString(",\n")}
       |SELECT v AS vec_id, vq AS score_q, CAST(vq AS DOUBLE) / 1e6
       |  AS score
       |FROM v_4 ORDER BY vq DESC, v LIMIT 10""".stripMargin
  }

  /** q239 — multi-probe LSH: recall@5 and candidate volume when each
    * query probes its own hyperplane bucket (depth 0) vs also the four
    * Hamming-1 neighbor buckets (depth 1) — the standard LSH recall
    * lever that multiplies candidate cost by ~(1+planes) WITHOUT
    * retraining or adding tables, measured against the exact ground
    * truth. Complements q185 (IVF nprobe dial) and q216 (graph-hop
    * dial): three different recall-for-cost levers over one corpus,
    * each with its measured curve. Probes fan out as a bounded 5-way
    * union of the 5-row query relation; candidates come only from
    * bucket equi-joins; per-query top-5 is the bounded TopKByScore
    * aggregation; candidate dedup is a distinct on (query, vec, score),
    * never a window.
    */
  private val q239: Q = (s, dir) => {
    val topk = udaf(new graft.functions.TopKByScore(5))
    val np = planesFor(s, dir)
    val e = graft.util.QueryCaches.tracked(
      embVecs(s, dir).withColumn("bucket", expr(hyperplaneBucket("v", np))))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("bucket").as("qb"))
    // 2-arg substring takes the tail, so the flip template is p-agnostic
    def flip(pos: Int) = expr(
      s"concat(substring(qb, 1, $pos), IF(substring(qb, ${pos + 1}, 1) = '1'," +
        s" '0', '1'), substring(qb, ${pos + 2}))")
    val own = q.select(col("query_id"), col("qv"), col("qb").as("pb"))
    val flips = (0 until np).map(pos =>
      q.select(col("query_id"), col("qv"), flip(pos).as("pb")))
      .reduce(_.unionByName(_))
    val exact = graft.util.QueryCaches.tracked(
      q45(s, dir).filter(col("rank") <= 5)
        .select(col("query_id"), col("vec_id")))
    def run(depth: Int, probes: DataFrame): DataFrame = {
      val scored = probes.join(e,
          col("bucket") === col("pb") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(expr(cosExpr("qv", "v")), 6).as("cs"))
        .distinct()
        .transform(graft.util.QueryCaches.tracked)
      val top = scored.groupBy("query_id")
        .agg(topk(col("cs"), col("vec_id")).as("tk"))
        .select(col("query_id"), posexplode(col("tk")))
        .select(col("query_id"), col("col.id").as("vec_id"),
          lit(1L).as("hit"))
      exact.join(top, Seq("query_id", "vec_id"), "left")
        .agg(count(lit(1)).as("k_total"),
          sum(coalesce(col("hit"), lit(0L))).as("hits_total"))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("n_candidates"))))
        .select(lit(depth).as("probe_depth"), col("n_candidates"),
          col("k_total"), col("hits_total"),
          (col("hits_total").cast("double") /
            col("k_total").cast("double")).as("recall"))
    }
    run(0, own).unionByName(run(1, own.unionByName(flips)))
      .orderBy("probe_depth")
  }

  private val q239Sql: String = {
    // flips are data-driven over generate_series(0, np-1): one SQL text
    // serves any derived plane count, mirroring the Spark side's
    // (0 until np) probe fan-out
    val flipSql: String =
      "SELECT query_id, qv, substr(qb, 1, f.fp) || CASE WHEN " +
        "substr(qb, f.fp + 1, 1) = '1' THEN '0' ELSE '1' END || " +
        "substr(qb, f.fp + 2) AS pb FROM qv, nplanes, " +
        "unnest(generate_series(0, np - 1)) AS f(fp)"
    def runSql(depth: Int, probeRel: String): String =
      s"""sc_$depth AS (SELECT DISTINCT p.query_id, e.vec_id,
         |    round(list_dot_product(p.qv, e.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(e.v, e.v))), 6) AS cs
         |  FROM $probeRel p JOIN e ON e.bucket = p.pb
         |    AND e.vec_id <> p.query_id),
         |tp_$depth AS (SELECT query_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cs DESC, vec_id) AS rnk FROM sc_$depth) t
         |  WHERE rnk <= 5),
         |nc_$depth AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM sc_$depth),
         |r_$depth AS (SELECT $depth AS probe_depth, nc_$depth.n_candidates,
         |    CAST(count(*) AS BIGINT) AS k_total,
         |    CAST(sum(CASE WHEN tp_$depth.vec_id IS NOT NULL THEN 1
         |      ELSE 0 END) AS BIGINT) AS hits_total,
         |    CAST(sum(CASE WHEN tp_$depth.vec_id IS NOT NULL THEN 1
         |      ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |      AS recall
         |  FROM exact LEFT JOIN tp_$depth
         |    ON tp_$depth.query_id = exact.query_id
         |    AND tp_$depth.vec_id = exact.vec_id
         |  CROSS JOIN nc_$depth GROUP BY nc_$depth.n_candidates)"""
        .stripMargin
    s"""WITH $bucketPairCtes,
       |qv AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM e
       |  WHERE vec_id < 5),
       |pr0 AS (SELECT query_id, qv, qb AS pb FROM qv),
       |pr1 AS (SELECT * FROM pr0
       |  UNION ALL $flipSql),
       |$exactTop5Cte,
       |${runSql(0, "pr0")},
       |${runSql(1, "pr1")}
       |SELECT * FROM (SELECT * FROM r_0 UNION ALL SELECT * FROM r_1)
       |ORDER BY probe_depth""".stripMargin
  }

  /** q256 — embedding norm audit: the distribution of ‖v‖ over the
    * corpus — zero-norm count (vectors cosine must guard against, the
    * q44/q158 NaN lesson as a MEASURED population), mean, exact
    * p50/p95, and max. Read before every similarity decision: a wide
    * norm spread means dot-product and cosine rankings genuinely differ
    * (and normalization is not optional); norm drift between snapshots
    * flags an encoder change. Each norm is one IEEE sqrt of the exact
    * left-to-right double dot product (bit-identical across engines,
    * the file-header discipline), quantized `round(·1e6)::BIGINT`
    * BEFORE aggregation so the mean is an exact-integer fold and the
    * percentiles are exact order statistics over BIGINTs. One map-side
    * pass + a 1-row aggregate; nothing scales past the scan.
    */
  private val q256: Q = (s, dir) => {
    val normQ =
      "CAST(round(sqrt(aggregate(zip_with(v, v, (x, y) -> x * y)," +
        " CAST(0 AS DOUBLE), (a, x) -> a + x)) * 1e6) AS BIGINT)"
    embVecs(s, dir)
      .select(expr(normQ).as("nq"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("nq") === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
        sum("nq").as("snq"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY nq)").as("p50q"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY nq)").as("p95q"),
        max("nq").as("maxq"))
      .select(col("n_vecs"), col("n_zero_norm"),
        (col("snq").cast("double") / 1e6 / col("n_vecs").cast("double"))
          .as("mean_norm"),
        (col("p50q").cast("double") / 1e6).as("p50_norm"),
        (col("p95q").cast("double") / 1e6).as("p95_norm"),
        (col("maxq").cast("double") / 1e6).as("max_norm"))
  }

  private val q256Sql =
    """WITH nq AS (SELECT CAST(round(sqrt(list_dot_product(
      |      embedding::DOUBLE[], embedding::DOUBLE[])) * 1e6) AS BIGINT)
      |    AS nq
      |  FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_zero_norm,
      |  CAST(CAST(sum(nq) AS BIGINT) AS DOUBLE) / 1e6
      |    / CAST(count(*) AS DOUBLE) AS mean_norm,
      |  CAST(quantile_disc(nq, 0.5) AS DOUBLE) / 1e6 AS p50_norm,
      |  CAST(quantile_disc(nq, 0.95) AS DOUBLE) / 1e6 AS p95_norm,
      |  CAST(max(nq) AS DOUBLE) / 1e6 AS max_norm
      |FROM nq""".stripMargin

  /** q270 — retrieval-set redundancy audit: per query, the mean pairwise
    * cosine among its exact top-10 results — the "are the top-k results
    * all near-duplicates of each other" number that says whether
    * retrieval needs an MMR-style diversity re-rank (redundancy near the
    * query-result similarity: the result set is one cluster; low: the
    * neighborhood is genuinely diverse). Scale shape: the top-10 comes
    * from q45's brute-force kernel shape (broadcast queries, bounded
    * TopKByScore — the ground-truth pass recall audits already pay);
    * the pair stage is a within-query self-join of a ≤ 10-row-per-query
    * relation (≤ 45 pairs per query, bounded by k² not the corpus);
    * each pairwise cosine is quantized `round(·1e6)::BIGINT` before the
    * per-query mean so the fold is exact.
    */
  private val q270: Q = (s, dir) => {
    val topk = udaf(new graft.functions.TopKByScore(10))
    val e = graft.util.QueryCaches.tracked(embVecs(s, dir))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val top = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr(cosExpr("qv", "v")), 6).as("cs"))
      .groupBy("query_id")
      .agg(topk(col("cs"), col("vec_id")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("m"))
      .select(col("query_id"), col("m.id").as("vec_id"))
      .join(e, "vec_id")
      .transform(graft.util.QueryCaches.tracked)
    top.as("a").join(top.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.query_id").as("query_id"),
        expr(s"CAST(round(${cosExpr("a.v", "b.v")} * 1e6) AS BIGINT)")
          .as("pq"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_pairs"), sum("pq").as("spq"))
      .select(col("query_id"), col("n_pairs"),
        (col("spq").cast("double") / 1e6 / col("n_pairs").cast("double"))
          .as("mean_pairwise_cos"))
      .orderBy("query_id")
  }

  private val q270Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id, e.v,
      |         round(list_dot_product(q.qv, e.v)
      |           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6)
      |           AS cs
      |  FROM q JOIN e ON e.vec_id <> q.query_id),
      |top AS (SELECT query_id, vec_id, v FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cs DESC, vec_id) AS rank FROM scored) t
      |  WHERE rank <= 10),
      |pw AS (SELECT a.query_id,
      |    CAST(round(list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      |      * 1e6) AS BIGINT) AS pq
      |  FROM top a JOIN top b ON a.query_id = b.query_id
      |    AND a.vec_id < b.vec_id)
      |SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(CAST(sum(pq) AS BIGINT) AS DOUBLE) / 1e6
      |    / CAST(count(*) AS DOUBLE) AS mean_pairwise_cos
      |FROM pw GROUP BY 1 ORDER BY query_id""".stripMargin

  /** q285 — one Borůvka round over the weighted kNN graph: every node
    * selects its minimum-weight incident edge (weight = integer cosine
    * distance 10⁶·(1−cos), the exact-grid discipline), ties broken by
    * the total edge order (dist, a, b). Borůvka's per-node min pick is
    * THE parallel MST primitive (each round halves the component count,
    * so log n rounds build the full MST; single-link dendrograms cut
    * from it) — and one round is a pure pair of keyed shuffles: a
    * groupBy-min of `struct(dist, a, b)` per node (map-side combinable,
    * never a ranking window) and a (a,b,dist) re-group that counts how
    * many endpoints picked each edge. With a strict total order on
    * edges, the picked directed graph's only cycles are mutual picks,
    * so the deduped pick set is a FOREST — components = nodes − edges
    * closed-form, no iteration (the unit spec asserts it). Output: the
    * picked edge relation with its pick multiplicity.
    */
  private val q285: Q = (s, dir) => {
    val und = graft.util.QueryCaches.tracked(
      knnNeighbors(s, dir).select(
        least(col("vec_id"), col("neighbor_id")).as("a"),
        greatest(col("vec_id"), col("neighbor_id")).as("b"),
        (lit(1000000L) - expr("CAST(round(cos_sim * 1e6) AS BIGINT)"))
          .as("dist_q"))
        .distinct())
    val sym = und.select(col("a").as("v"), col("a"), col("b"), col("dist_q"))
      .unionByName(
        und.select(col("b").as("v"), col("a"), col("b"), col("dist_q")))
    sym.groupBy("v")
      .agg(min(struct(col("dist_q"), col("a"), col("b"))).as("m"))
      .groupBy(col("m.a").as("a"), col("m.b").as("b"),
        col("m.dist_q").as("dist_q"))
      .agg(count(lit(1)).cast("int").as("picked_by"))
      .orderBy("a", "b")
  }

  private val q285Sql =
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |und AS (SELECT DISTINCT least(vec_id, neighbor_id) AS a,
       |    greatest(vec_id, neighbor_id) AS b,
       |    1000000 - CAST(round(cos_sim * 1e6) AS BIGINT) AS dist_q
       |  FROM knn),
       |sym AS (SELECT a AS v, a, b, dist_q FROM und
       |        UNION ALL SELECT b, a, b, dist_q FROM und),
       |picked AS (SELECT v, min(ROW(dist_q, a, b)) AS m FROM sym GROUP BY v)
       |SELECT m[2] AS a, m[3] AS b, m[1] AS dist_q,
       |  CAST(count(*) AS INTEGER) AS picked_by
       |FROM picked GROUP BY 1, 2, 3 ORDER BY a, b""".stripMargin

  /** q308 — Borůvka run to CONVERGENCE: the full minimum spanning
    * forest of the weighted kNN graph (q285 is one round; the MSF is
    * the single-link dendrogram every hierarchical-clustering /
    * HDBSCAN-style pipeline cuts). With the strict total edge order
    * (dist_q, a, b) the MSF is UNIQUE, so the oracle may run any
    * correct algorithm and must produce the identical edge set.
    *
    * Scale shape: a driver loop of ≤16 Borůvka rounds — components at
    * least double in size per round and every connected component is
    * confined to one LSH bucket (kNN edges are intra-bucket), whose
    * size the corpus-adaptive plane count holds near 2048 (≤4× under
    * the SkewStressSpec bound), so ~13 rounds suffice at ANY corpus
    * scale. Each round is q285's pair of keyed shuffles (per-component
    * min-edge pick, map-side combinable) plus a contraction: connected
    * components over the PICKED component graph — a relation that
    * HALVES every round — via the shared [[TextDedup.connectedComponents]]
    * kernel. Per-round lineage truncation; the only driver-side action
    * per round is the crossing-edge emptiness probe (bounded metadata,
    * q293's discipline).
    */
  /** Spark-side Borůvka round cap — [[boruvkaCtesAfterUnd]]'s default
    * unroll count is THIS value, so the two engines' caps cannot drift
    * (round-12 ADVICE item 1).
    */
  private[ops] val BoruvkaRounds = 16

  /** Final select shared by q308Sql/q312Sql over [[boruvkaCtesAfterUnd]]'s
    * `msf` + `resid` CTEs: the MSF edges, plus the loud-truncation
    * sentinel row when crossing edges remain after the unrolled rounds.
    */
  private val boruvkaMsfSelect: String =
    """SELECT a, b, dist_q FROM msf
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT) AS a, CAST(-1 AS BIGINT) AS b,
      |  n AS dist_q FROM resid WHERE n > 0
      |ORDER BY a, b""".stripMargin

  private val q308: Q = (s, dir) => {
    val und = knnNeighbors(s, dir).select(
      least(col("vec_id"), col("neighbor_id")).as("a"),
      greatest(col("vec_id"), col("neighbor_id")).as("b"),
      (lit(1000000L) - expr("CAST(round(cos_sim * 1e6) AS BIGINT)"))
        .as("dist_q"))
      .distinct()
    boruvkaMsf(und).orderBy("a", "b")
  }

  /** Borůvka-to-convergence kernel shared by q308 (raw cosine weights)
    * and q312 (HDBSCAN mutual-reachability weights): `und0` is any
    * undirected weighted edge relation `(a, b, dist_q)` with unique
    * (a, b) pairs — the strict total order (dist_q, a, b) makes the
    * MSF unique, which is what lets each consumer's oracle run an
    * independent algorithm.
    */
  private[ops] def boruvkaMsf(und0: DataFrame,
      maxRounds: Int = BoruvkaRounds): DataFrame = {
    val und = graft.util.QueryCaches.tracked(und0)
    // ADAPTIVE small-graph path, with CC's fixed bound of
    // [[graft.util.UnionFind.LocalEdgeBound]] (250 000) edges: the bucketed
    // kNN inputs are usually far smaller than the corpus, and the
    // distributed loop pays ~5 scheduling actions × ~13 rounds of
    // near-empty jobs on them. At or below the bound, sort-once Kruskal
    // over a driver union-find gives the IDENTICAL unique MSF (strict
    // total order (dist_q, a, b)); above it Borůvka scales unbounded. The
    // count materializes the tracked cache the first round would read.
    if (und.count() <= graft.util.UnionFind.LocalEdgeBound) {
      val edges = und.select(col("a"), col("b"), col("dist_q")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val uf = new graft.util.UnionFind
      val kept = edges.sortBy { case (a, b, d) => (d, a, b) }
        .filter { case (a, b, _) => uf.union(a, b) }
      val spark = und.sparkSession
      import spark.implicits._
      kept.toSeq.toDF("a", "b", "dist_q")
    } else boruvkaMsfDistributed(und, maxRounds)
  }

  /** [[boruvkaMsf]]'s Borůvka loop above the local edge bound (tests call
    * it to pin both paths equal). Reads `und` every round: pass it cached.
    */
  private[graft] def boruvkaMsfDistributed(und: DataFrame,
      maxRounds: Int = BoruvkaRounds): DataFrame = {
    var comp = graft.util.Lineage.truncate(
      und.select(col("a").as("v")).unionByName(und.select(col("b").as("v")))
        .distinct().select(col("v"), col("v").as("c")))
    // Per-round picks stay cached (tracked; the suite/bench drain after
    // the query's action) and the MSF is the LAZY union of the rounds'
    // cached pick relations: each round's subtree is a cache scan, so
    // the tree never nests and the per-round eager msf checkpoint —
    // one full scheduling action per round — is gone (r13 optimization).
    val rounds = scala.collection.mutable.Buffer.empty[DataFrame]
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      round += 1
      val cross = und
        .join(comp.select(col("v").as("a"), col("c").as("ca")), "a")
        .join(comp.select(col("v").as("b"), col("c").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      // symmetrize in ONE pass over the crossing edges (explode of a
      // 2-struct array) instead of a persisted double-read union
      val sym = cross.select(explode(array(
          struct(col("ca").as("c"), col("dist_q"), col("a"), col("b"),
            col("cb").as("d")),
          struct(col("cb").as("c"), col("dist_q"), col("a"), col("b"),
            col("ca").as("d")))).as("s"))
        .select(col("s.c").as("c"), col("s.dist_q").as("dist_q"),
          col("s.a").as("a"), col("s.b").as("b"), col("s.d").as("d"))
      val picks = graft.util.QueryCaches.tracked(sym.groupBy("c")
        .agg(min(struct(col("dist_q"), col("a"), col("b"), col("d"))).as("m")))
      // one action per round: the pick count is both the convergence
      // probe (0 crossing edges → 0 picks) and picks' materialization
      if (picks.count() == 0L) done = true
      else {
        rounds += picks
          .select(col("m.a").as("a"), col("m.b").as("b"),
            col("m.dist_q").as("dist_q")).distinct()
        // contraction: CC over the picked COMPONENT graph (min-label
        // roots), then relabel; unpicked (finished) components keep
        // their label
        val labels = TextDedup
          .connectedComponents(picks.select(col("c"), col("m.d").as("d")))
          .toDF("c", "nc")
        comp = graft.util.Lineage.truncate(
          comp.join(labels, Seq("c"), "left_outer")
            .select(col("v"), coalesce(col("nc"), col("c")).as("c")))
      }
    }
    require(done, s"Borůvka did not converge in $maxRounds rounds — " +
      "component larger than the bucket-size bound; raise the round cap")
    if (rounds.isEmpty)
      und.limit(0).select(col("a"), col("b"), col("dist_q"))
    else rounds.reduce(_.unionByName(_))
  }

  /** Oracle: Borůvka unrolled to the SAME 16-round cap the Spark kernel
    * enforces (components ≤ 4×2048-row buckets → ~13 rounds in practice;
    * idempotent past convergence), contraction by explicit 2-cycle-break
    * + pointer doubling — every multi-referenced CTE MATERIALIZED so
    * DuckDB never inlines the chain exponentially. MSF uniqueness under
    * the strict total order makes round-structure differences from the
    * Spark side irrelevant. Truncation fails LOUDLY on the oracle side
    * too: a residual-crossing-edge probe after round 16 appends a
    * sentinel row (-1, -1, residual_count) when nonempty, so an
    * under-unrolled oracle hash-mismatches instead of silently
    * golden-stamping a partial MSF (the Spark side's `require` is its
    * half of the same contract).
    */
  private val q308Sql: String =
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |und AS MATERIALIZED (SELECT DISTINCT least(vec_id, neighbor_id) AS a,
       |    greatest(vec_id, neighbor_id) AS b,
       |    1000000 - CAST(round(cos_sim * 1e6) AS BIGINT) AS dist_q
       |  FROM knn),
       |${boruvkaCtesAfterUnd()}
       |$boruvkaMsfSelect""".stripMargin

  /** The unrolled-Borůvka oracle CTE tail shared by q308Sql/q312Sql/
    * q321Sql: lab0 + R rounds + `msf` (the union of all picked edges)
    * + `resid` (crossing edges left AFTER round R — nonzero means the
    * unroll truncated and the consumer must fail loudly). Expects the
    * caller's WITH list to define `und(a, b, dist_q)` with unique pairs.
    */
  private def boruvkaCtesAfterUnd(R: Int = BoruvkaRounds,
      D: Int = 14): String = {
    def roundCtes(k: Int): String = {
      val prev = s"lab${k - 1}"
      val jumps = (1 to D).map(i =>
        s"""jmp${k}_$i AS MATERIALIZED (SELECT t.c, u.par AS par
           |  FROM jmp${k}_${i - 1} t JOIN jmp${k}_${i - 1} u ON u.c = t.par)"""
          .stripMargin).mkString(",\n")
      s"""cr$k AS MATERIALIZED (
         |  SELECT la.c AS ca, lb.c AS cb, e.a, e.b, e.dist_q
         |  FROM und e JOIN $prev la ON la.v = e.a
         |             JOIN $prev lb ON lb.v = e.b
         |  WHERE la.c <> lb.c),
         |pick$k AS MATERIALIZED (
         |  SELECT c, min(ROW(dist_q, a, b, d)) AS m FROM (
         |    SELECT ca AS c, cb AS d, a, b, dist_q FROM cr$k
         |    UNION ALL SELECT cb, ca, a, b, dist_q FROM cr$k) s
         |  GROUP BY c),
         |jmp${k}_0 AS MATERIALIZED (
         |  SELECT p.c, CASE WHEN q.d = p.c THEN LEAST(p.c, p.d)
         |              ELSE p.d END AS par
         |  FROM (SELECT c, m[4] AS d FROM pick$k) p
         |  JOIN (SELECT c, m[4] AS d FROM pick$k) q ON q.c = p.d),
         |$jumps,
         |lab$k AS MATERIALIZED (
         |  SELECT l.v, COALESCE(j.par, l.c) AS c
         |  FROM $prev l LEFT JOIN jmp${k}_$D j ON j.c = l.c)""".stripMargin
    }
    val unionPicks = (1 to R)
      .map(k => s"SELECT m[2] AS a, m[3] AS b, m[1] AS dist_q FROM pick$k")
      .mkString("\n  UNION ALL ")
    s"""lab0 AS MATERIALIZED (SELECT v, v AS c FROM
       |  (SELECT a AS v FROM und UNION SELECT b FROM und) t),
       |${(1 to R).map(roundCtes).mkString(",\n")},
       |msf AS MATERIALIZED (SELECT DISTINCT a, b, dist_q FROM (
       |  $unionPicks) allp),
       |resid AS (SELECT CAST(count(*) AS BIGINT) AS n
       |  FROM und e JOIN lab$R la ON la.v = e.a
       |             JOIN lab$R lb ON lb.v = e.b
       |  WHERE la.c <> lb.c)""".stripMargin
  }

  /** q312 — HDBSCAN's backbone: the minimum spanning forest under
    * MUTUAL-REACHABILITY distance mrd(a,b) = max(kdist(a), kdist(b),
    * d(a,b)) (Campello et al., PAKDD'13) over the shared kNN edge set,
    * with q287's exact kdist (max top-3 distance, floored to one
    * quantum). The core-distance max smooths density: sparse-region
    * points can't chain through a single lucky close pair, which is
    * exactly why HDBSCAN condenses this MSF rather than q308's raw
    * one. Composition cost over q308 is two narrow equi-joins of the
    * ≤3-out-degree relation against the |V|-row kdist aggregate; the
    * Borůvka kernel and its scale story are [[boruvkaMsf]]'s.
    */
  /** The mutual-reachability edge relation shared by q312 (its MSF) and
    * q321 (the cluster extraction over that MSF): kNN edges reweighted
    * to mrd(a,b) = max(kdist(a), kdist(b), d(a,b)).
    */
  private def mutualReachEdges(s: SparkSession, dir: String): DataFrame = {
    val knn = graft.util.QueryCaches.tracked(
      knnNeighbors(s, dir).select(col("vec_id"), col("neighbor_id"),
        greatest(lit(1000000L) -
          expr("CAST(round(cos_sim * 1e6) AS BIGINT)"), lit(1L))
          .as("dist_q")))
    val kd = knn.groupBy("vec_id").agg(max("dist_q").as("kdist"))
      .transform(graft.util.QueryCaches.tracked)
    knn
      .join(kd.select(col("vec_id"), col("kdist").as("ka")), "vec_id")
      .join(kd.select(col("vec_id").as("neighbor_id"),
        col("kdist").as("kb")), "neighbor_id")
      .select(least(col("vec_id"), col("neighbor_id")).as("a"),
        greatest(col("vec_id"), col("neighbor_id")).as("b"),
        greatest(col("dist_q"), col("ka"), col("kb")).as("dist_q"))
      .distinct()
  }

  private val q312: Q = (s, dir) =>
    boruvkaMsf(mutualReachEdges(s, dir)).orderBy("a", "b")

  /** Oracle CTE prefix shared by q312Sql/q321Sql: the mutual-reachability
    * `und(a, b, dist_q)` relation ([[mutualReachEdges]]'s twin).
    */
  private val mutualReachUndCtes: String =
    s"""$knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id,
       |    GREATEST(1000000 - CAST(round(cos_sim * 1e6) AS BIGINT),
       |      1) AS dist_q
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |kd AS MATERIALIZED (SELECT vec_id, max(dist_q) AS kdist
       |  FROM knn GROUP BY 1),
       |und AS MATERIALIZED (SELECT DISTINCT
       |    least(k.vec_id, k.neighbor_id) AS a,
       |    greatest(k.vec_id, k.neighbor_id) AS b,
       |    GREATEST(k.dist_q, ka.kdist, kb.kdist) AS dist_q
       |  FROM knn k JOIN kd ka ON ka.vec_id = k.vec_id
       |             JOIN kd kb ON kb.vec_id = k.neighbor_id)""".stripMargin

  private val q312Sql: String =
    s"""WITH $mutualReachUndCtes,
       |${boruvkaCtesAfterUnd()}
       |$boruvkaMsfSelect""".stripMargin

  /** q321 — HDBSCAN cluster EXTRACTION over q312's mutual-reachability
    * MSF: the flat single-link cut that turns the dendrogram backbone
    * into the clustering deliverable (Campello et al., PAKDD'13 §3 —
    * the λ-level set of the hierarchy; the condensed-tree stability
    * selection refines WHICH level per branch, this emits the global
    * level cut with min_cluster_size = 3, matching the kNN k). The cut
    * threshold λ is data-adaptive and deterministic: the 25th-percentile
    * MSF edge weight, selected on the DISTINCT-weight relation
    * ([[GlobalRank.prefixSum]], the value-domain discipline). Edges with
    * dist_q ≤ λ survive; connected components over the survivors (the
    * shared [[TextDedup.connectedComponents]] kernel, min-label ids) are
    * the clusters; components below min_cluster_size — including the
    * vertices every cut edge dropped — pool into the `cluster_id = -1`
    * noise row, so the n_points column sums to |V| exactly.
    *
    * Scale shape on top of the [[boruvkaMsf]] kernel: one value-domain
    * prefix sum for λ, one broadcast λ filter, the CC loop over a
    * relation that is ≤ 25% of the (already |V|-bounded) MSF, and two
    * map-side-combinable groupBys. The oracle replays the cut over the
    * unrolled-Borůvka `msf` CTE with recursive-closure CC (q56's
    * pattern) and inherits the loud-truncation sentinel: residual
    * crossing edges after the unroll emit a cluster_id = -2 row no Spark
    * run can produce (its `require` throws instead), so a truncated
    * oracle can never golden-stamp a wrong clustering.
    */
  private val q321: Q = (s, dir) => {
    val msf = graft.util.QueryCaches.tracked(
      boruvkaMsf(mutualReachEdges(s, dir)))
    val byVal = msf.groupBy("dist_q").agg(count(lit(1)).as("t"))
    val cum = GlobalRank.prefixSum(byVal, "pfx", col("t"), Seq(col("dist_q")))
      .select(col("dist_q"), (col("pfx") + col("t")).as("cum"))
    val m = msf.agg(count(lit(1)).as("m"))
    val lambda = graft.util.QueryCaches.tracked(
      cum.crossJoin(broadcast(m))
        .filter(col("cum") >= expr("(25L * m + 99L) div 100L"))
        .agg(min("dist_q").as("lambda_q")))
    val cut = graft.util.QueryCaches.tracked(
      msf.crossJoin(broadcast(lambda))
        .filter(col("dist_q") <= col("lambda_q"))
        .select("a", "b", "dist_q"))
    val labels = graft.util.QueryCaches.tracked(
      TextDedup.connectedComponents(cut.select("a", "b"))
        .toDF("v", "label"))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_points"))
    val estats = cut.join(labels.withColumnRenamed("v", "a"), "a")
      .groupBy("label")
      .agg(count(lit(1)).as("n_edges"), max("dist_q").as("max_edge_q"))
    val retained = graft.util.QueryCaches.tracked(
      sizes.join(estats, "label").filter(col("n_points") >= 3)
        .select(col("label").as("cluster_id"), col("n_points"),
          col("n_edges"), col("max_edge_q")))
    val nv = msf.select(col("a").as("v"))
      .unionByName(msf.select(col("b").as("v"))).distinct()
      .agg(count(lit(1)).as("n_v"))
    val covered = retained.agg(
      coalesce(sum("n_points"), lit(0L)).as("covered"))
    val noise = nv.crossJoin(broadcast(covered))
      .select(lit(-1L).as("cluster_id"),
        (col("n_v") - col("covered")).as("n_points"),
        lit(0L).as("n_edges"), lit(null).cast("long").as("max_edge_q"))
    retained.unionByName(noise)
      .crossJoin(broadcast(lambda))
      .orderBy("cluster_id")
  }

  private val q321Sql: String =
    s"""WITH RECURSIVE $mutualReachUndCtes,
       |${boruvkaCtesAfterUnd()},
       |bv AS (SELECT dist_q, CAST(count(*) AS BIGINT) AS t
       |  FROM msf GROUP BY 1),
       |mcum AS (SELECT dist_q,
       |    sum(t) OVER (ORDER BY dist_q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM bv),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM msf),
       |lam AS (SELECT min(dist_q) AS lambda_q FROM mcum CROSS JOIN mm
       |  WHERE cum >= (25 * mm.m + 99) // 100),
       |cut AS MATERIALIZED (SELECT a, b, dist_q FROM msf CROSS JOIN lam
       |  WHERE dist_q <= lam.lambda_q),
       |sym AS (SELECT a, b FROM cut UNION SELECT b, a FROM cut),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |cc AS MATERIALIZED (SELECT a AS v, min(b) AS label
       |  FROM reach GROUP BY a),
       |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n_points
       |  FROM cc GROUP BY 1),
       |es AS (SELECT cc.label, CAST(count(*) AS BIGINT) AS n_edges,
       |    max(cut.dist_q) AS max_edge_q
       |  FROM cut JOIN cc ON cc.v = cut.a GROUP BY 1),
       |ret AS MATERIALIZED (SELECT s.label AS cluster_id, s.n_points,
       |    es.n_edges, es.max_edge_q
       |  FROM sizes s JOIN es ON es.label = s.label
       |  WHERE s.n_points >= 3),
       |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_v FROM
       |  (SELECT a AS v FROM msf UNION SELECT b FROM msf) t),
       |cov AS (SELECT CAST(COALESCE(sum(n_points), 0) AS BIGINT)
       |  AS covered FROM ret)
       |SELECT cluster_id, n_points, n_edges, max_edge_q, lam.lambda_q
       |FROM ret CROSS JOIN lam
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), nv.n_v - cov.covered,
       |  CAST(0 AS BIGINT), CAST(NULL AS BIGINT), lam.lambda_q
       |FROM nv, cov, lam
       |UNION ALL
       |SELECT CAST(-2 AS BIGINT), resid.n, CAST(0 AS BIGINT),
       |  CAST(NULL AS BIGINT), CAST(-1 AS BIGINT)
       |FROM resid WHERE resid.n > 0
       |ORDER BY 1""".stripMargin

  /** q319 — split-conformal novelty threshold over the kNN distance
    * (Vovk's conformal prediction, split/inductive form — the
    * distribution-free coverage guarantee modern eval stacks wrap
    * around any score): nonconformity = q287's exact kdist (3-NN
    * distance, BIGINT grid), calibration/test split by a vec_id hash
    * bit, threshold q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest calibration
    * score at α = 0.1 — the finite-sample-corrected order statistic
    * that makes P(test score ≤ q̂) ≥ 1−α EXACTLY, no asymptotics.
    * The order statistic is selected on the DISTINCT-score relation
    * ([[GlobalRank.prefixSum]], q305's value-domain discipline — a
    * 10¹²-row calibration set still ranks a few thousand distinct
    * quanta); k is exact integer ceil via (9(n+1)+9) div 10. Output:
    * split sizes, k, q̂, and the measured test coverage (its only
    * division). Degenerate small calibration sets (n_cal < 9, so the
    * order statistic k exceeds n_cal) follow the split-conformal
    * convention q̂ = +∞ — here the max BIGINT quantum, identically on
    * both engines — giving coverage 1, never the silent coverage-0 a
    * NULL threshold would produce (round-12 ADVICE item 2; the
    * degenerate branch is pinned by Round13OpsSpec).
    */
  private val q319: Q = (s, dir) => {
    val kd = knnNeighbors(s, dir).select(col("vec_id"),
        greatest(lit(1000000L) -
          expr("CAST(round(cos_sim * 1e6) AS BIGINT)"), lit(1L)).as("d"))
      .groupBy("vec_id").agg(max("d").as("kdist"))
      .withColumn("cal", expr(
        "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 4), 16, 10) AS INT) % 2 = 0"))
      .transform(graft.util.QueryCaches.tracked)
    conformalSummary(kd)
  }

  /** The split-conformal tail of q319 over any (vec_id, kdist, cal)
    * relation — factored so the degenerate small-calibration branch is
    * unit-testable on crafted splits.
    */
  private[graft] def conformalSummary(kd: DataFrame): DataFrame = {
    val sizes = kd.agg(
      sum(when(col("cal"), 1L).otherwise(0L)).as("n_cal"),
      sum(when(col("cal"), 0L).otherwise(1L)).as("n_test"))
    val byVal = kd.filter(col("cal")).groupBy("kdist")
      .agg(count(lit(1)).as("t"))
    val cum = GlobalRank.prefixSum(byVal, "pfx", col("t"), Seq(col("kdist")))
      .select(col("kdist"), (col("pfx") + col("t")).as("cum"))
    val qhat = cum.crossJoin(broadcast(sizes))
      .filter(col("cum") >= expr("(9L * (n_cal + 1L) + 9L) div 10L"))
      .agg(coalesce(min("kdist"), lit(Long.MaxValue)).as("qhat_q"))
    kd.filter(!col("cal"))
      .crossJoin(broadcast(qhat))
      .agg(sum(when(col("kdist") <= col("qhat_q"), 1L).otherwise(0L))
        .as("n_covered"), count(lit(1)).as("nt"), max("qhat_q").as("qhat_q"))
      .crossJoin(broadcast(sizes))
      .select(col("n_cal"), col("n_test"),
        expr("(9L * (n_cal + 1L) + 9L) div 10L").as("k_order"),
        col("qhat_q"),
        round(col("n_covered").cast("double") / col("nt").cast("double"), 6)
          .as("coverage"))
  }

  private val q319Sql =
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id,
       |    GREATEST(1000000 - CAST(round(cos_sim * 1e6) AS BIGINT),
       |      1) AS d
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |kd AS MATERIALIZED (SELECT vec_id, max(d) AS kdist,
       |    CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 4)) AS INTEGER)
       |      % 2 = 0 AS cal
       |  FROM knn GROUP BY vec_id),
       |sz AS (SELECT CAST(sum(CASE WHEN cal THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cal,
       |  CAST(sum(CASE WHEN cal THEN 0 ELSE 1 END) AS BIGINT) AS n_test
       |  FROM kd),
       |bv AS (SELECT kdist, CAST(count(*) AS BIGINT) AS t FROM kd
       |  WHERE cal GROUP BY 1),
       |cum AS (SELECT kdist,
       |    CAST(sum(t) OVER (ORDER BY kdist
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM bv),
       |qh AS (SELECT COALESCE(min(kdist),
       |    CAST(9223372036854775807 AS BIGINT)) AS qhat_q
       |  FROM cum CROSS JOIN sz
       |  WHERE cum >= (9 * (sz.n_cal + 1) + 9) // 10),
       |cov AS (SELECT CAST(sum(CASE WHEN kdist <= qh.qhat_q THEN 1
       |      ELSE 0 END) AS BIGINT) AS n_covered,
       |    CAST(count(*) AS BIGINT) AS nt, max(qh.qhat_q) AS qhat_q
       |  FROM kd CROSS JOIN qh WHERE NOT cal)
       |SELECT sz.n_cal, sz.n_test,
       |  CAST((9 * (sz.n_cal + 1) + 9) // 10 AS BIGINT) AS k_order,
       |  cov.qhat_q,
       |  round(CAST(cov.n_covered AS DOUBLE) / CAST(cov.nt AS DOUBLE), 6)
       |    AS coverage
       |FROM cov CROSS JOIN sz""".stripMargin

  /** q287 — local outlier factor (Breunig et al., SIGMOD'00) at k = 3
    * over the SHARED kNN relation: reach-dist(a→b) = max(kdist(b),
    * dist(a,b)), lrd(a) = deg(a)/Σ reach, LOF(a) = mean(lrd(b)/lrd(a))
    * — the density-ratio outlier score that flags a vector whose
    * neighborhood is sparser than its neighbors' own neighborhoods
    * (embedding-space junk detection, the geometric complement of
    * q112's value outliers and q135's MAD). Exact-arithmetic shape:
    * distances on the 10⁻⁶ cosine grid (BIGINT), each lrd RATIO kept as
    * the integer pair (deg, Σreach) so lrd(b)/lrd(a) is one
    * correctly-rounded double division of exact <2⁵³ BIGINT products,
    * re-quantized to 10⁻⁶ before the per-node sum — float accumulation
    * order can never flip a hash. A zero distance (duplicate vector) is
    * floored to one quantum — the standard LOF degeneracy guard, or
    * lrd would divide by zero. Scale: three keyed equi-joins and three
    * map-side-combinable groupBys over the bounded (≤3-out-degree)
    * edge relation; never a window, never all-pairs.
    */
  private val q287: Q = (s, dir) => {
    val knn = graft.util.QueryCaches.tracked(
      knnNeighbors(s, dir).select(col("vec_id"), col("neighbor_id"),
        greatest(lit(1000000L) -
          expr("CAST(round(cos_sim * 1e6) AS BIGINT)"), lit(1L))
          .as("dist_q")))
    val kd = graft.util.QueryCaches.tracked(
      knn.groupBy("vec_id")
        .agg(max("dist_q").as("kdist_q"), count(lit(1)).as("deg")))
    // Every neighbor_id is itself a kNN source (it shares a bucket with
    // its picker, so it has >=1 in-bucket neighbor) — inner joins below
    // drop nothing.
    val lrd = graft.util.QueryCaches.tracked(
      knn.join(kd.select(col("vec_id").as("neighbor_id"),
          col("kdist_q").as("nb_kdist")), "neighbor_id")
        .groupBy("vec_id")
        .agg(sum(greatest(col("dist_q"), col("nb_kdist")))
          .as("sum_reach_q"), count(lit(1)).as("deg")))
    knn.join(lrd.select(col("vec_id"), col("sum_reach_q").as("sra"),
        col("deg").as("dega")), "vec_id")
      .join(lrd.select(col("vec_id").as("neighbor_id"),
        col("sum_reach_q").as("srb"), col("deg").as("degb")), "neighbor_id")
      .select(col("vec_id"), expr(
        """CAST(round(CAST(1000000L * degb * sra AS DOUBLE)
          |  / CAST(srb * dega AS DOUBLE)) AS BIGINT)""".stripMargin)
        .as("t_q"))
      .groupBy("vec_id").agg(sum("t_q").as("t_sum"))
      .join(lrd, "vec_id")
      .join(kd.select(col("vec_id"), col("kdist_q")), "vec_id")
      .select(col("vec_id"), col("deg"), col("kdist_q"), col("sum_reach_q"),
        round(col("t_sum").cast("double") /
          (col("deg").cast("double") * lit(1e6)), 6).as("lof"))
      .orderBy("vec_id")
  }

  private val q287Sql =
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id,
       |    GREATEST(1000000 - CAST(round(cos_sim * 1e6) AS BIGINT),
       |      1) AS dist_q
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |kd AS (SELECT vec_id, CAST(max(dist_q) AS BIGINT) AS kdist_q,
       |    CAST(count(*) AS BIGINT) AS deg FROM knn GROUP BY 1),
       |lrd AS (SELECT k.vec_id,
       |    CAST(sum(GREATEST(k.dist_q, kb.kdist_q)) AS BIGINT)
       |      AS sum_reach_q,
       |    CAST(count(*) AS BIGINT) AS deg
       |  FROM knn k JOIN kd kb ON kb.vec_id = k.neighbor_id
       |  GROUP BY 1),
       |terms AS (SELECT k.vec_id,
       |    CAST(round(CAST(1000000 * lb.deg * la.sum_reach_q AS DOUBLE)
       |      / CAST(lb.sum_reach_q * la.deg AS DOUBLE)) AS BIGINT) AS t_q
       |  FROM knn k JOIN lrd la ON la.vec_id = k.vec_id
       |  JOIN lrd lb ON lb.vec_id = k.neighbor_id)
       |SELECT t.vec_id, la.deg, kd.kdist_q, la.sum_reach_q,
       |  round(CAST(CAST(sum(t.t_q) AS BIGINT) AS DOUBLE)
       |    / (CAST(la.deg AS DOUBLE) * 1e6), 6) AS lof
       |FROM terms t JOIN lrd la ON la.vec_id = t.vec_id
       |JOIN kd ON kd.vec_id = t.vec_id
       |GROUP BY 1, 2, 3, 4 ORDER BY t.vec_id""".stripMargin

  /** q311 — DBSCAN point labeling (Ester et al., KDD'96) over the
    * bucketed embedding space: core iff |N_eps| ≥ minPts (= 4, self
    * included), border iff non-core with a core eps-neighbor, noise
    * otherwise — the density CLASSIFICATION complementing q287's LOF
    * density RATIO (LOF ranks outlierness; DBSCAN's labels are the
    * hard admit/review/drop gate a curation pipeline acts on).
    * eps is cosine ≥ 0.2 on the same rounded-6 grid as the kNN family;
    * the eps-neighborhood is the in-bucket pair join (q44/q57's
    * Θ(n·2048) LSH-blocked shape — bucket-boundary misses are the
    * declared, audited LSH recall trade, never all-pairs).
    */
  private val q311: Q = (s, dir) => {
    val minNb = 3 // minPts = 4 counting self
    val e = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), expr(vd).as("v"))
      .withColumn("bucket", expr(hyperplaneBucket("v", planesFor(s, dir))))
      .transform(graft.util.QueryCaches.tracked)
    val nbr = e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nb"),
        round(expr(cosExpr("a.v", "b.v")), 6).as("cs"))
      .filter(col("cs") >= 0.2)
      .transform(graft.util.QueryCaches.tracked)
    val deg = nbr.groupBy("vec_id").agg(count(lit(1)).as("nnb"))
      .transform(graft.util.QueryCaches.tracked)
    val core = deg.filter(col("nnb") >= minNb).select(col("vec_id"))
    val border = nbr
      .join(core.select(col("vec_id").as("nb")), "nb")
      .select(col("vec_id")).distinct()
    e.select(col("vec_id"))
      .join(deg, Seq("vec_id"), "left_outer")
      .join(core.withColumn("is_core", lit(true)), Seq("vec_id"), "left_outer")
      .join(border.withColumn("is_border", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), (coalesce(col("nnb"), lit(0L)) + 1L).as("n_eps"),
        when(col("is_core"), "core")
          .when(col("is_border"), "border")
          .otherwise("noise").as("label"))
      .orderBy("vec_id")
  }

  private val q311Sql =
    s"""WITH $knnScoredCtes,
       |nbr AS MATERIALIZED (SELECT vec_id, neighbor_id FROM scored
       |  WHERE cos_sim >= 0.2),
       |deg AS MATERIALIZED (SELECT vec_id, CAST(count(*) AS BIGINT) AS nnb
       |  FROM nbr GROUP BY 1),
       |core AS MATERIALIZED (SELECT vec_id FROM deg WHERE nnb >= 3),
       |border AS (SELECT DISTINCT n.vec_id FROM nbr n
       |  JOIN core c ON c.vec_id = n.neighbor_id)
       |SELECT e0.vec_id, COALESCE(d.nnb, 0) + 1 AS n_eps,
       |  CASE WHEN c.vec_id IS NOT NULL THEN 'core'
       |       WHEN b.vec_id IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS label
       |FROM e0 LEFT JOIN deg d ON d.vec_id = e0.vec_id
       |LEFT JOIN core c ON c.vec_id = e0.vec_id
       |LEFT JOIN border b ON b.vec_id = e0.vec_id
       |ORDER BY e0.vec_id""".stripMargin

  /** q293 — dominant principal direction of the embedding cloud by
    * MATRIX-FREE power iteration on the second-moment matrix M = Σ vvᵀ:
    * six rounds of x ← Σᵢ vᵢ·(vᵢᵀx) with integer renormalization — the
    * 100 TB-shaped PCA step. M is never materialized (64×64 would be
    * cheap, but the per-row outer-product AGGREGATION to build it
    * shuffles 4096 columns; the matrix-free form is one broadcast of 64
    * longs + one 64-column map-side-combinable aggregate per round,
    * Spark's natural shape for x ← Mx). All arithmetic is exact BIGINT:
    * embeddings on the 2²⁰ grid, per-row projections sv = vqᵀx
    * (|sv| ≤ 2⁴⁶) floor-scaled by 2²⁴ before the y-accumulation
    * (|y_j| ≤ n·2⁴² — exact to n ≈ 2·10⁶ rows; widen the shift for
    * more), and x renormalized to max-component 2²⁰ by floor division —
    * the per-round 64-long y vector is GlobalRank-style driver metadata
    * (bounded, like its P-long offsets), NOT a data collect. Output:
    * the converged direction (j, xj) plus the corpus-level diagnostics
    * (n, xᵀx, and the 2⁻⁴⁰-scaled Rayleigh numerator Σ round(sv²/2⁴⁰),
    * quantized per row before summing — the float-order discipline).
    */
  private val q293: Q = (s, dir) => {
    val eq = graft.util.QueryCaches.tracked(
      Tables.spread(Tables.embeddings(s, dir))
        .select(expr(s"transform($vd, x -> CAST(round(x * 1048576) AS BIGINT))")
          .as("vq")))
    var x = Array.tabulate(64)(j => if (j == 0) 1048576L else 0L)
    val dot = "aggregate(zip_with(vq, xv, (a, b) -> a * b), " +
      "CAST(0 AS BIGINT), (a, t) -> a + t)"
    for (_ <- 1 to 6) {
      val xl = array(x.toIndexedSeq.map(lit): _*)
      val sums = (0 until 64).map(j => sum(expr(s"sp * vq[$j]")).as(s"y$j"))
      val y = eq.withColumn("xv", xl)
        .select(expr(graft.util.SqlArith.floorDiv(dot, 16777216L)).as("sp"),
          col("vq"))
        .agg(sums.head, sums.tail: _*)
        .collect()(0)
      val yv = Array.tabulate(64)(j => y.getLong(j))
      val m = yv.map(math.abs).max
      val d = math.max(m >> 20, 1L)
      // Math.floorDiv == SqlArith.floorDiv == the oracle's
      // floorDivDuck form — one FLOOR definition on all three surfaces
      // (bare DuckDB `//` would truncate the negative components).
      x = yv.map(v => Math.floorDiv(v, d))
    }
    val xl = array(x.toIndexedSeq.map(lit): _*)
    val xtx = x.map(v => v * v).sum
    val fin = eq.withColumn("xv", xl)
      .select(expr("""CAST(aggregate(zip_with(vq, xv, (a, b) -> a * b),
                     |  CAST(0 AS BIGINT), (a, t) -> a + t) AS DOUBLE)"""
        .stripMargin).as("sv"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(sv * sv / 1099511627776.0) AS BIGINT)"))
          .as("rayleigh_q40"))
    s.range(64).select(col("id").cast("int").as("j"))
      .withColumn("xj", element_at(xl, col("j") + 1))
      .crossJoin(broadcast(fin))
      .select(col("j"), col("xj"), col("n"), lit(xtx).as("xtx"),
        col("rayleigh_q40"))
      .orderBy("j")
  }

  private val q293Sql: String = {
    // sp and the renormalized components can be NEGATIVE: DuckDB's
    // integer `//` truncates toward zero there (Spark's floorDiv
    // floors), so both divisions go through the positive-mod floor form
    // — see SqlArith.floorDivDuck. The m// is positive-only and safe.
    import graft.util.SqlArith.floorDivDuck
    def round(i: Int): String =
      s"""ys$i AS MATERIALIZED (SELECT u.j,
         |    CAST(sum(sp * vq[u.j]) AS BIGINT) AS y
         |  FROM (SELECT vq, ${floorDivDuck("dd", "16777216")} AS sp
         |    FROM (SELECT vq, CAST(list_sum(list_transform(
         |        generate_series(1, 64), k -> vq[k] * x[k])) AS BIGINT)
         |        AS dd
         |      FROM eq CROSS JOIN x${i - 1}) t0) t1
         |  CROSS JOIN unnest(generate_series(1, 64)) AS u(j)
         |  GROUP BY u.j),
         |m$i AS (SELECT GREATEST(CAST(max(abs(y)) AS BIGINT) // 1048576,
         |    1) AS d FROM ys$i),
         |x$i AS MATERIALIZED (SELECT list(${floorDivDuck("y", "d")}
         |    ORDER BY j) AS x
         |  FROM ys$i CROSS JOIN m$i)""".stripMargin
    s"""WITH eq AS MATERIALIZED (SELECT list_transform(embedding::DOUBLE[],
       |    v -> CAST(round(v * 1048576) AS BIGINT)) AS vq
       |  FROM embeddings),
       |x0 AS (SELECT list_transform(generate_series(1, 64),
       |    j -> CASE WHEN j = 1 THEN CAST(1048576 AS BIGINT)
       |              ELSE CAST(0 AS BIGINT) END) AS x),
       |${(1 to 6).map(round).mkString(",\n")},
       |fin AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(sv * sv / 1099511627776.0) AS BIGINT))
       |      AS BIGINT) AS rayleigh_q40
       |  FROM (SELECT CAST(CAST(list_sum(list_transform(
       |      generate_series(1, 64), k -> vq[k] * x[k])) AS BIGINT)
       |      AS DOUBLE) AS sv FROM eq CROSS JOIN x6) t),
       |xtx AS (SELECT CAST(list_sum(list_transform(x,
       |    v -> v * v)) AS BIGINT) AS xtx FROM x6)
       |SELECT CAST(u.j - 1 AS INTEGER) AS j, x6.x[u.j] AS xj,
       |  fin.n, xtx.xtx, fin.rayleigh_q40
       |FROM x6 CROSS JOIN unnest(generate_series(1, 64)) AS u(j)
       |CROSS JOIN fin CROSS JOIN xtx
       |ORDER BY j""".stripMargin
  }

  /** q294 — k-center coreset selection by Gonzalez's farthest-point
    * traversal (Gonzalez, TCS'85 — the 2-approximation every
    * distributed k-center/coreset pipeline bootstraps from): seed with
    * vec 0, then four rounds of "add the point farthest from its
    * nearest chosen center". The audit answer is the coverage
    * geometry — per center its assigned population and radius — i.e.
    * how well 5 exemplars summarize the corpus (the coreset the
    * GPU-expensive stages run on instead of the full data). Scale
    * shape per round: ONE broadcast of the ≤5-row center relation
    * against the persisted quantized vectors (the PlanSpec sweep's
    * executed-row fallback proves the nested-loop side is the bounded
    * one), a per-vector min, and a grouping-free max(struct) argmax —
    * no window, no driver collect; distances are exact BIGINT
    * 2⁴⁰ − vqᵀcv on the 2²⁰ grid, ties broken (dist desc, vec_id asc)
    * by integer struct order on both engines.
    */
  private val q294: Q = (s, dir) => {
    val base = graft.util.QueryCaches.tracked(
      Tables.spread(Tables.embeddings(s, dir))
        .select(col("vec_id"),
          expr(s"transform($vd, x -> CAST(round(x * 1048576) AS BIGINT))")
            .as("vq")))
    val dotCC = "aggregate(zip_with(vq, cv, (a, b) -> a * b), " +
      "CAST(0 AS BIGINT), (a, t) -> a + t)"
    var centers = base.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("cid"), col("vq").as("cv"))
    for (_ <- 1 to 4) {
      val dmin = base.crossJoin(broadcast(centers))
        .select(col("vec_id"),
          (lit(1099511627776L) - expr(dotCC)).as("dist_q"))
        .groupBy("vec_id").agg(min("dist_q").as("dmin"))
      val far = dmin
        .agg(max(struct(col("dmin"), (-col("vec_id")).as("nv"))).as("m"))
        .select((-col("m.nv")).as("fid"))
      val newC = base.join(broadcast(far), col("vec_id") === col("fid"))
        .select(col("vec_id").as("cid"), col("vq").as("cv"))
      // centers is consumed TWICE next round (the union and dmin's
      // cross) — without a cut the plan doubles per round (2⁴
      // recomputes of the whole chain; Probe-measured 7.6 s → 3.7 s at
      // sf0.1). The ≤5-row cut is the iterative rule.
      centers = graft.util.Lineage.truncate(centers.unionByName(newC))
    }
    val cset = graft.util.QueryCaches.tracked(centers)
    base.crossJoin(broadcast(cset))
      .select(col("vec_id"),
        struct((lit(1099511627776L) - expr(dotCC)).as("d"), col("cid"))
          .as("p"))
      .groupBy("vec_id").agg(min("p").as("p"))
      .groupBy(col("p.cid").as("center_id"))
      .agg(count(lit(1)).as("n_assigned"), max(col("p.d")).as("radius_q"))
      .orderBy("center_id")
  }

  private val q294Sql: String = {
    val dot = "CAST(list_sum(list_transform(generate_series(1, 64), " +
      "k -> e.vq[k] * c.cv[k])) AS BIGINT)"
    def round(i: Int): String =
      s"""f$i AS (SELECT max(ROW(dmin, -vec_id)) AS m FROM (
         |    SELECT e.vec_id, min(1099511627776 - $dot) AS dmin
         |    FROM eqv e CROSS JOIN c${i - 1} c GROUP BY e.vec_id) t),
         |c$i AS MATERIALIZED (SELECT * FROM c${i - 1}
         |  UNION ALL
         |  SELECT vec_id AS cid, vq AS cv FROM eqv CROSS JOIN f$i
         |  WHERE vec_id = -(f$i.m[2]))""".stripMargin
    s"""WITH eqv AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      v -> CAST(round(v * 1048576) AS BIGINT)) AS vq
       |  FROM embeddings),
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, vq AS cv FROM eqv
       |  WHERE vec_id = 0),
       |${(1 to 4).map(round).mkString(",\n")},
       |asg AS (SELECT e.vec_id, min(ROW(1099511627776 - $dot, c.cid)) AS p
       |  FROM eqv e CROSS JOIN c4 c GROUP BY e.vec_id)
       |SELECT p[2] AS center_id, CAST(count(*) AS BIGINT) AS n_assigned,
       |  CAST(max(p[1]) AS BIGINT) AS radius_q
       |FROM asg GROUP BY 1 ORDER BY center_id""".stripMargin
  }

  /** q304 — graph-walk ANN: greedy BEAM SEARCH over the kNN graph (the
    * search procedure of HNSW's base layer / NSW, Malkov & Yashunin —
    * the graph-based ANN family the index-side q45/LSH/IVF/PQ/JL
    * variants don't cover): start every query at one global entry
    * point (the smallest non-query vec), and for three hops expand the
    * frontier's neighbors, score them against the query, and keep a
    * beam of the best B = 4 — navigable-small-world routing where each
    * hop moves the beam closer in cosine space WITHOUT scanning any
    * bucket. Scale shape per hop: frontier ⋈ edges (the ≤3-out-degree
    * shared symmetric relation), one broadcast-query scoring join, a
    * (query, node) max-dedup groupBy and a bounded TopKByScore — beam
    * state is ≤ B rows/query, frontier only the NEWLY admitted nodes
    * (anti-join vs the previous beam), lineage truncated per hop (the
    * q233/q237 iterative discipline). Output: the final beam with hop
    * count fixed at 3 — recall vs the exact top-B is the audit a real
    * deployment tunes B and hops against (q278's epistemics: on this
    * near-uniform corpus the walk plateaus quickly; the MECHANISM is
    * what the cross-engine gate pins).
    */
  private val q304: Q = (s, dir) => {
    val B = 4
    val topk = udaf(new graft.functions.TopKByScore(B))
    val emb = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), expr(vd).as("v"))
      .transform(graft.util.QueryCaches.tracked)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val entry = emb.filter(col("vec_id") >= 5)
      .agg(min("vec_id").as("doc_id")) // 1-row global entry point
    def scoreOf(nodes: DataFrame): DataFrame =
      nodes.join(emb.select(col("vec_id").as("doc_id"), col("v")), "doc_id")
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("doc_id"),
          round(expr(cosExpr("qv", "v")), 6).as("cs"))
    val edges = symKnnEdges(s, dir)
    var beam = scoreOf(q.select(col("query_id")).crossJoin(broadcast(entry)))
      .withColumn("rank", lit(1))
    var frontier = beam.select("query_id", "doc_id")
    for (_ <- 1 to 3) {
      val expanded = frontier
        .join(edges.withColumnRenamed("src", "doc_id"), "doc_id")
        .select(col("query_id"), col("dst").as("doc_id")).distinct()
      val union = beam.select("query_id", "doc_id", "cs")
        .unionByName(scoreOf(expanded))
        .groupBy("query_id", "doc_id").agg(max("cs").as("cs"))
      val newBeam = union.groupBy("query_id")
        .agg(topk(col("cs"), col("doc_id")).as("tk"))
        .select(col("query_id"), posexplode(col("tk")))
        .select(col("query_id"), col("col.id").as("doc_id"),
          col("col.score").as("cs"), (col("pos") + 1).cast("int").as("rank"))
      // one cut per hop (r13): cut the new beam — it is the relation
      // BOTH the next union and the frontier read — and leave the
      // frontier as a lazy anti-join of two cut relations (consumed
      // once, depth bounded; a second cut per hop bought nothing but a
      // scheduling action).
      // r14 re-measured the 2-hops-per-checkpoint deferral (odd hops as
      // tracked lazy caches, boruvkaMsf's pattern): jobs 68 → 67 and
      // 4.9 → 5.3 s probe median — the cost here is the ~5 tiny
      // exchanges per hop, not the checkpoint actions, and the lazy
      // caches only added cache-write overhead and plan bloat. Reverted.
      val prevBeam = beam
      beam = graft.util.Lineage.truncate(newBeam)
      frontier = beam
        .join(prevBeam.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"), "left_anti")
        .select("query_id", "doc_id")
    }
    beam.select(col("query_id"), col("rank"), col("doc_id"), col("cs"))
      .orderBy("query_id", "rank")
  }

  private val q304Sql = {
    val cosQ =
      """round(list_dot_product(qv2.qv, e0.v)
        |  / (sqrt(list_dot_product(qv2.qv, qv2.qv))
        |     * sqrt(list_dot_product(e0.v, e0.v))), 6)""".stripMargin
    def hop(i: Int): String =
      s"""ex$i AS (SELECT DISTINCT f.query_id, s.dst AS doc_id
         |  FROM fr${i - 1} f JOIN sym s ON s.src = f.doc_id),
         |sc$i AS (SELECT x.query_id, x.doc_id, $cosQ AS cs
         |  FROM ex$i x JOIN e0 ON e0.vec_id = x.doc_id
         |              JOIN qv2 ON qv2.query_id = x.query_id),
         |u$i AS (SELECT query_id, doc_id, max(cs) AS cs FROM (
         |    SELECT query_id, doc_id, cs FROM bm${i - 1}
         |    UNION ALL SELECT query_id, doc_id, cs FROM sc$i) t
         |  GROUP BY 1, 2),
         |bm$i AS MATERIALIZED (SELECT query_id, doc_id, cs, rn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cs DESC, doc_id) AS rn FROM u$i) t
         |  WHERE rn <= 4),
         |fr$i AS (SELECT b.query_id, b.doc_id FROM bm$i b
         |  WHERE NOT EXISTS (SELECT 1 FROM bm${i - 1} p
         |    WHERE p.query_id = b.query_id AND p.doc_id = b.doc_id))"""
        .stripMargin
    s"""WITH $knnScoredCtes,
       |knn AS (SELECT vec_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored) t
       |  WHERE rank <= 3),
       |und AS (SELECT DISTINCT least(vec_id, neighbor_id) AS a,
       |    greatest(vec_id, neighbor_id) AS b FROM knn),
       |sym AS (SELECT a AS src, b AS dst FROM und
       |        UNION ALL SELECT b, a FROM und),
       |qv2 AS (SELECT vec_id AS query_id, v AS qv FROM e0 WHERE vec_id < 5),
       |en AS (SELECT min(vec_id) AS doc_id FROM e0 WHERE vec_id >= 5),
       |bm0 AS (SELECT qv2.query_id, en.doc_id, $cosQ AS cs, 1 AS rn
       |  FROM qv2 CROSS JOIN en JOIN e0 ON e0.vec_id = en.doc_id),
       |fr0 AS (SELECT query_id, doc_id FROM bm0),
       |${(1 to 3).map(hop).mkString(",\n")}
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, cs
       |FROM bm3 ORDER BY query_id, rank""".stripMargin
  }

  /** q307 — reciprocal (mutual) kNN pairs: a ↔ b where each is in the
    * other's top-3 — the symmetric-evidence subgraph that robustifies
    * density/cluster pipelines (mutual-kNN is the edge set SNN
    * clustering and HDBSCAN-style pipelines trust because one-sided
    * kNN edges from a hub node carry no reciprocity evidence; q191's
    * hubness audit measures the asymmetry this filters out). One
    * self-join of the keyed-shared kNN relation on the swapped key
    * pair (equi-join, ≤3 rows per node per side), canonical a < b
    * triangle, both direction ranks reported. A 100 TB run is two
    * passes over the already-built directed relation — the mutuality
    * filter costs one narrow shuffle.
    */
  private val q307: Q = (s, dir) => {
    val k = knnNeighbors(s, dir)
    val fwd = k.select(col("vec_id").as("vec_a"), col("neighbor_id").as("vec_b"),
      col("cos_sim"), col("rank").as("rank_ab"))
    val rev = k.select(col("vec_id").as("rb_src"), col("neighbor_id").as("rb_dst"),
      col("rank").as("rank_ba"))
    fwd.filter(col("vec_a") < col("vec_b"))
      .join(rev, col("rb_src") === col("vec_b") && col("rb_dst") === col("vec_a"))
      .select(col("vec_a"), col("vec_b"), col("cos_sim"),
        col("rank_ab"), col("rank_ba"))
      .orderBy("vec_a", "vec_b")
  }

  private val q307Sql =
    s"""WITH $knnScoredCtes,
       |knnr AS (SELECT vec_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored) t WHERE rank <= 3)
       |SELECT f.vec_id AS vec_a, f.neighbor_id AS vec_b, f.cos_sim,
       |  f.rank AS rank_ab, r.rank AS rank_ba
       |FROM knnr f JOIN knnr r ON r.vec_id = f.neighbor_id
       |                       AND r.neighbor_id = f.vec_id
       |WHERE f.vec_id < f.neighbor_id
       |ORDER BY vec_a, vec_b""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q319_conformal_knn", q319, q319Sql),
    Query("q312_hdbscan_msf", q312, q312Sql),
    Query("q321_hdbscan_clusters", q321, q321Sql),
    Query("q311_dbscan_labels", q311, q311Sql),
    Query("q308_boruvka_msf", q308, q308Sql),
    Query("q307_mutual_knn", q307, q307Sql),
    Query("q304_graph_ann_beam", q304, q304Sql),
    Query("q285_boruvka_step", q285, q285Sql),
    Query("q287_lof_outliers", q287, q287Sql),
    Query("q293_pca_power", q293, q293Sql),
    Query("q294_kcenter_coreset", q294, q294Sql),
    Query("q270_result_redundancy", q270, q270Sql),
    Query("q256_norm_audit", q256, q256Sql),
    Query("q267_lpa_communities", q267, q267Sql),
    Query("q268_modularity", q268, q268Sql),
    Query("q233_kcore_curve", q233, q233Sql),
    Query("q237_eigen_centrality", q237, q237Sql),
    Query("q239_multiprobe_lsh", q239, q239Sql),
    Query("q220_cluster_medoid", q220, q220Sql),
    Query("q215_degree_assortativity", q215, q215Sql),
    Query("q216_twohop_recall", q216, q216Sql),
    Query("q168_pq_train_step", q168, q168Sql),
    Query("q167_modal_agreement", q167, q167Sql),
    Query("q166_label_cohesion", q166, q166Sql),
    Query("q161_pq_distortion", q161, q161Sql),
    Query("q160_knn_label_consistency", q160, q160Sql),
    Query("q158_semantic_leakage", q158, q158Sql),
    Query("q155_paraphrase_mining", q155, q155Sql),
    Query("q152_trunc_recall", q152, q152Sql),
    Query("q141_pq_adc_topk", q141, q141Sql),
    Query("q174_ivfpq_search", q174, q174Sql),
    Query("q175_ivfpq_recall", q175, q175Sql),
    Query("q140_semdedup", q140, q140Sql),
    Query("q136_knn_graph", q136, q136Sql),
    Query("q181_pagerank", q181, q181Sql),
    Query("q280_personalized_pagerank", q280, q280Sql),
    Query("q281_label_propagation_ssl", q281, q281Sql),
    Query("q184_hard_negatives", q184, q184Sql),
    Query("q185_nprobe_sweep", q185, q185Sql),
    Query("q188_centroid_drift", q188, q188Sql),
    Query("q191_hub_audit", q191, q191Sql),
    Query("q197_cluster_purity", q197, q197Sql),
    Query("q198_knn_reciprocity", q198, q198Sql),
    Query("q202_ivf_cell_balance", q202, q202Sql),
    Query("q205_triangle_count", q205, q205Sql),
    Query("q207_norm_profile", q207, q207Sql),
    Query("q210_split_stratification", q210, q210Sql),
    Query("q133_pq_assign", q133, q133Sql),
    Query("q129_embed_dedup_clusters", q129, q129Sql),
    Query("q128_quantizer_quality", q128, q128Sql),
    Query("q127_ann_recall_trained", q127, q127Sql),
    Query("q126_ann_ivf_trained", q126, q126Sql),
    Query("q125_ann_recall", q125, q125Sql),
    Query("q124_kmeans_step", q124, q124Sql),
    Query("q115_centroid_separation", q115, q115Sql),
    Query("q44_embed_neardup", q44, q44Sql),
    Query("q45_simsearch_topk", q45, q45Sql),
    Query("q46_simsearch_lsh", q46, q46Sql),
    Query("q51_centroid_udaf", q51, q51Sql),
    Query("q53_ann_ivf", q53, q53Sql),
    Query("q57_embed_neardup_lsh", q57, q57Sql)
  )
}
