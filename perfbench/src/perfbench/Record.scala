package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Everything one run measures, written as one JSON record for the
  * Python front end to turn into metrics.
  */
final class Record {
  val setup = mutable.LinkedHashMap.empty[String, Any]
  /** Untraced pass walls: one full sync, or one pass over the query mix. */
  val passes = ArrayBuffer.empty[Double]
  val tracedPasses = ArrayBuffer.empty[Double]
  /** Per-operation latencies of untraced passes: (resource type or query, seconds). */
  val ops = ArrayBuffer.empty[(String, Double)]
  var workPerPass = 0L
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Per traced pass: one value per per-layer metric. */
  val layers = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Counts that must repeat exactly from pass to pass. */
  val repeats = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val spans = ArrayBuffer.empty[Span]
  private val probes = mutable.HashMap.empty[String, Double]

  def check(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += msg }
  }

  def resetOps(): Unit = ops.clear()

  /** Calls `body(i)` for passes i = 0, 1, ... until `seconds` have passed
    * and at least `minPasses` ran.
    */
  def measure(seconds: Double, minPasses: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) { body(i); i += 1 }
  }

  def layer(k: String, v: Double): Unit = layers.getOrElseUpdate(k, ArrayBuffer.empty) += v
  def lastLayer(k: String): Double = layers(k).last
  def repeat(k: String, v: Double): Unit = repeats.getOrElseUpdate(k, ArrayBuffer.empty) += v
  def probe(k: String, v: Double): Unit = probes(k) = v
  def lastProbe(k: String): Double = probes.getOrElse(k, 0.0)

  /** Splits the wall time of one traced pass over the layers along the
    * driver's blocking path. Task-side spans run in parallel inside their
    * job and are left out; every other span is clipped to its parent. At
    * each instant the deepest open span owns the time, and among open
    * siblings (concurrent jobs) the one that ends last, which is the one
    * the driver waits for. The layer sums therefore add up to the time
    * covered by spans, and `trace.blocking_sum_s` against `trace.wall_s`
    * shows how much of the pass the spans account for.
    */
  def blocking(all: Seq[Span], wall: Double, layerOf: Span => String): Unit = {
    val path = all.filterNot(_.onTask)
    val byId = path.map(s => s.id -> s).toMap
    val clip = mutable.HashMap.empty[Long, (Long, Long, Int)]
    def clipped(s: Span): (Long, Long, Int) = clip.getOrElseUpdate(s.id,
      byId.get(s.parent).map(clipped) match {
        case Some((a, b, d)) => (math.max(a, s.startNs), math.min(b, s.endNs), d + 1)
        case None => (s.startNs, s.endNs, 0)
      })
    val iv = path.map(s => (s, clipped(s))).filter { case (_, (a, b, _)) => b > a }
    val points = iv.flatMap { case (_, (a, b, _)) => Seq(a, b) }.distinct.sorted
    val byLayer = mutable.LinkedHashMap.empty[String, Long]
    points.zip(points.drop(1)).foreach { case (a, b) =>
      val open = iv.filter { case (_, (x, y, _)) => x <= a && y >= b }
      if (open.nonEmpty) {
        val owner = open.maxBy { case (_, (_, y, d)) => (d, y) }._1
        val l = layerOf(owner)
        byLayer(l) = byLayer.getOrElse(l, 0L) + (b - a)
      }
    }
    byLayer.foreach { case (l, ns) => layer(s"self.${l}_s", ns / 1e9) }
    layer("trace.blocking_sum_s", byLayer.values.sum / 1e9)
    layer("trace.wall_s", wall)
  }

  def toJson(meta: Map[String, Any]): String = Json(meta ++ Map(
    "setup" -> setup, "passes" -> passes, "traced_passes" -> tracedPasses, "ops" -> ops,
    "work_per_pass" -> workPerPass, "attempted" -> attempted, "failed" -> failed,
    "failures" -> failures, "layers" -> layers, "repeats" -> repeats, "extra" -> extra))
}

object Record {
  def time(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}
