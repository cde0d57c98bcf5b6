package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.runtime.SyncPipeline
import graft.source.Snapshot

/** `sync-boot` and `sync-steady`: full four-type syncs through
  * `SyncPipeline.syncOneV2`, the `blaze` source and the
  * `graft-jdbc-upsert` sink, against an embedded-Derby mirror.
  */
object SyncBench {
  val BaseUrl = "http://perfbench"
  /** Resources per search page, the reference's page size. */
  val PageSize = 5000
  /** Derby's parser overflows its own stack (StackOverflowError in
    * UnionNode.bindExpressions) on the multi-row INSERT the sink builds at
    * its default 10 000 rows; 1 000 is accepted. Passed through the sink's
    * `batchsize` write option, so every sink number is a Derby number at
    * this batch size.
    */
  val BatchSize = 1000
  val WarmupPasses = 4

  val writeOptions: Map[String, String] = Map(
    "dialect" -> "ansi",
    "connector" -> classOf[BenchConnector].getName,
    "batchsize" -> BatchSize.toString)

  /** Mirror snapshot over Derby JDBC. Derby has no JSON operators, so the
    * id/version extraction runs on the Spark side before the program's
    * `Snapshot.fromRaw`.
    */
  def snapshot(spark: SparkSession, table: String): DataFrame =
    Snapshot.fromRaw(
      spark.read.format("jdbc").option("url", Mirror.url).option("dbtable", table).load()
        .select(col("id").as("pk_id"),
          get_json_object(col("resource"), "$.id").as("resource_id"),
          get_json_object(col("resource"), "$.meta.versionId").as("version_text")))

  def source(spark: SparkSession, resourceType: String): DataFrame =
    SyncPipeline.blazeV2Source(spark, BaseUrl, PageSize, classOf[BenchFetcher].getName)(resourceType)

  final case class Expect(inserts: Long, updates: Long, deletes: Long, total: Long,
                          payloadBytes: Long)

  def expect(from: Option[Corpus.Source], to: Corpus.Source): Expect = {
    val before = from.map(_.valid).getOrElse(Map.empty[String, Long])
    val ins = to.valid.keySet -- before.keySet
    val upd = to.valid.collect { case (id, v) if before.get(id).exists(_ != v) => id }
    val del = before.keySet -- to.valid.keySet
    Expect(ins.size, upd.size, del.size, to.valid.size,
      (ins.iterator ++ upd.iterator).map(to.payload).map(_.toLong).sum)
  }

  def run(spark: SparkSession, rec: Record, steady: Boolean, seed: Long, seconds: Double,
          traced: Boolean): Unit = {
    // set-up: generate and pre-render both generations (three times; the
    // median is reported), then prepare the mirror
    var gens: Seq[(Corpus.Source, Corpus.Source)] = Nil
    var pages: Array[Map[String, String]] = Array.empty
    rec.setup("prepare_s") = (1 to 3).map(_ => Record.time {
      gens = Corpus.types.map(Corpus.generate(_, seed))
      pages = Array(0, 1).map(g => gens.flatMap(p => Corpus.pages(gen(p, g), BaseUrl, PageSize)).toMap)
    })
    rec.setup("mirror_load_s") = Record.time {
      Mirror.reset()
      if (steady) gens.foreach { case (g0, _) =>
        Mirror.load(Schemas.tableName(g0.resourceType), g0.entries.iterator.filter(_.valid).map(_.json))
      }
    }
    // the generation the mirror holds: None = empty
    var held: Option[Int] = if (steady) Some(0) else None
    def nextTarget: Int = if (steady) 1 - held.get else 0
    rec.workPerPass = gens.map(p => gen(p, nextTarget).valid.size.toLong).sum

    def onePass(tracing: Boolean): Double = {
      if (!steady) Mirror.reset()
      val target = nextTarget
      Pages.byUrl = pages(target)
      val expected = gens.map { p =>
        p._1.resourceType -> expect(if (steady) held.map(gen(p, _)) else None, gen(p, target))
      }.toMap
      if (tracing) probes(spark, rec, gens.map(_._1.resourceType))
      val gc0 = Trace.gcSeconds; val jit0 = Trace.jitSeconds
      Trace.on = tracing
      val t0 = System.nanoTime()
      Trace.span("sync.pass", "bench") {
        gens.foreach { p => syncType(spark, rec, p._1.resourceType, expected(p._1.resourceType)) }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      held = Some(target)
      if (tracing) {
        Trace.settle()
        Trace.on = false
        layerMetrics(rec, wall, expected.values.map(_.payloadBytes).sum)
        rec.layer("jvm.gc_s", Trace.gcSeconds - gc0)
        rec.layer("jvm.jit_s", Trace.jitSeconds - jit0)
      }
      wall
    }

    // warm-up: the program keeps getting faster for several passes as the
    // JIT compiles it, so the timed passes start after four
    rec.setup("warmup_s") = Record.time { (1 to WarmupPasses).foreach(_ => onePass(tracing = false)) }
    rec.resetOps()
    rec.measure(seconds, minPasses = 6) { i =>
      val tracing = traced && i % 2 == 1
      val wall = onePass(tracing)
      if (tracing) rec.tracedPasses += wall else rec.passes += wall
    }

    // after the last repetition the mirror must hold exactly the source's
    // valid (id, versionId) set
    gens.foreach { p =>
      val src = gen(p, held.get)
      val mirrored = Mirror.versions(Schemas.tableName(src.resourceType))
      val want = src.valid.map { case (id, v) => id -> v.toString }
      rec.check(mirrored == want,
        s"${src.resourceType}: mirror holds ${mirrored.size} (id, version) pairs, " +
          s"${(mirrored.toSet diff want.toSet).size} not in the source's ${want.size}")
    }
  }

  private def gen(p: (Corpus.Source, Corpus.Source), g: Int): Corpus.Source =
    if (g == 0) p._1 else p._2

  /** One type's sync, checked against the generator's expected delta. */
  private def syncType(spark: SparkSession, rec: Record, resourceType: String,
                       want: Expect): Unit = {
    val table = Schemas.tableName(resourceType)
    val t0 = System.nanoTime()
    val result =
      try Trace.span(s"sync.$resourceType", "runtime") {
        val src = source(spark, resourceType)
        val snap = Trace.span("snapshot.build", "snapshot")(snapshot(spark, table))
        Right(Trace.span("syncOneV2", "runtime") {
          SyncPipeline.syncOneV2(spark, resourceType, src, snap, writeOptions,
            t => Trace.span("reconcile.count", "runtime")(Mirror.count(t)))
        })
      } catch { case e: Exception => Left(s"$resourceType: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    rec.ops += resourceType -> (System.nanoTime() - t0) / 1e9
    result match {
      case Left(msg) => rec.check(ok = false, msg)
      case Right(r) =>
        rec.check(r.inserts == want.inserts && r.updates == want.updates &&
          r.deletes == want.deletes && r.sourceTotal == want.total && r.reconciled,
          s"$resourceType: got $r, expected $want")
    }
  }

  /** Isolated probes, run before a traced pass with tracing off: the source
    * scan forced by an aggregate the pushdown cannot answer, and the
    * snapshot read of the mirror the pass is about to diff against.
    */
  private def probes(spark: SparkSession, rec: Record, types: Seq[String]): Unit = {
    var scan = 0.0; var read = 0.0; var rows = 0L
    types.foreach { t =>
      scan += Record.time {
        SyncPipeline.sourceVersions(source(spark, t)).agg(sum("version_id")).collect()
      }
      read += Record.time {
        rows += snapshot(spark, Schemas.tableName(t))
          .agg(count(lit(1)), sum("version_id")).collect()(0).getLong(0)
      }
    }
    rec.probe("source.scan_s", scan)
    rec.probe("snapshot.read_s", read)
    rec.probe("snapshot.rows", rows.toDouble)
  }

  /** Per-layer metrics of one traced pass. Inside each `syncOneV2` span
    * the jobs up to the classify job (`collect` of the action counts) form
    * the count group: the shuffle-map job whose tasks fetched pages is the
    * source scan, the other one the snapshot read. Every later job belongs
    * to the write.
    */
  private def layerMetrics(rec: Record, wall: Double, payloadBytes: Long): Unit = {
    val spans = Trace.drainSpans()
    rec.spans ++= spans
    val jobs = spans.filter(_.layer == "job")
    val fetching = spans.filter(s => s.onTask && s.name == "source.fetch").map(_.parent).toSet
    val jobLayer = spans.filter(_.name == "syncOneV2").flatMap { call =>
      val mine = jobs.filter(_.parent == call.id)
      val classify = mine.filter(_.name.contains("collect at SyncPipeline")).map(_.startNs).minOption
      mine.map { j =>
        j.id -> (classify match {
          case Some(c) if j.startNs < c => if (fetching(j.id)) "source" else "snapshot"
          case Some(c) if j.startNs == c => "diff"
          case _ => "sink"
        })
      }
    }.toMap
    def groupWall(layers: Set[String]) = unionS(jobs.filter(j => jobLayer.get(j.id).exists(layers)))
    def jobSum(ls: Set[String], key: String) =
      jobs.filter(j => jobLayer.get(j.id).exists(ls)).map(j => Trace.counter(s"job.${j.id}.$key")).sum
    def c(k: String) = Trace.counter(k).toDouble
    def sumDur(name: String) = spans.filter(_.name == name).map(_.durS).sum
    val countGroup = Set("source", "snapshot", "diff")
    val exec = c("sink.exec_ns") / 1e9
    val gateWait = c("sink.gate_wait_ns") / 1e9
    rec.layer("source.requests", c("source.requests"))
    rec.layer("source.probes", c("source.probes"))
    rec.layer("source.page_bytes", c("source.page_bytes"))
    rec.layer("source.scan_s", rec.lastProbe("source.scan_s"))
    rec.layer("snapshot.read_s", rec.lastProbe("snapshot.read_s"))
    rec.layer("snapshot.rows", rec.lastProbe("snapshot.rows"))
    // the count job minus the scan jobs it waits for (they run concurrently)
    rec.layer("diff.classify_self_s", groupWall(countGroup) - groupWall(Set("source", "snapshot")))
    rec.layer("diff.shuffle_bytes", jobSum(countGroup, "shuffle_bytes").toDouble)
    rec.layer("sink.write_job_s", groupWall(Set("sink")))
    rec.layer("sink.statements", c("sink.statements"))
    rec.layer("sink.rows", c("sink.rows"))
    rec.layer("sink.txns", c("sink.txns"))
    rec.layer("sink.aborts", c("sink.aborts"))
    rec.layer("sink.sql_bytes_per_payload_byte",
      if (payloadBytes > 0) c("sink.sql_bytes") / payloadBytes else 0.0)
    rec.layer("sink.exec_s", exec)
    rec.layer("sink.gate_wait_s", gateWait)
    rec.layer("sink.writer_self_s", jobSum(Set("sink"), "task_ns") / 1e9 - exec - gateWait)
    rec.layer("runtime.sync_one_s", sumDur("syncOneV2"))
    rec.layer("runtime.jobs", jobs.size.toDouble)
    rec.layer("reconcile.count_s", sumDur("reconcile.count"))
    rec.blocking(spans, wall, s => if (s.layer == "job") jobLayer.getOrElse(s.id, "runtime") else s.layer)
    Seq("source.requests", "sink.statements", "runtime.jobs").foreach(k => rec.repeat(k, rec.lastLayer(k)))
    Trace.reset()
  }

  /** Wall time covered by a set of possibly overlapping spans. */
  private def unionS(xs: Seq[Span]): Double = {
    var total = 0L; var a = Long.MinValue; var b = Long.MinValue
    xs.sortBy(_.startNs).foreach { s =>
      if (s.startNs > b) { if (b > a) total += b - a; a = s.startNs; b = s.endNs }
      else b = math.max(b, s.endNs)
    }
    if (b > a) total += b - a
    total / 1e9
  }
}
