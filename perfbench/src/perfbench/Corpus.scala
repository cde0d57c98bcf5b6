package perfbench

import scala.collection.mutable

/** Deterministic FHIR-shaped corpus for the sync workloads.
  *
  * Each resource type has its own count and payload size; the counts do
  * not depend on the seed, so every seed does the same amount of work and
  * only the content (ids, versions, which resources change, payload text)
  * varies. About 1% of the entries are invalid (no `id`, or a non-numeric
  * `versionId`) so the program's validity filter runs.
  *
  * Two generations support the daily re-sync toggle: generation 1 drops
  * the first 1% of generation 0's ids, adds 1% new ids, and bumps the
  * version of 2% of the ids both share. Syncing 0 -> 1 and 1 -> 0 applies
  * deltas of the same size, so repetitions need no restore.
  */
object Corpus {
  final case class TypeSpec(name: String, count: Int, noteWords: Int)

  /** Resource counts and mean note lengths (words) per type. */
  val types: Seq[TypeSpec] = Seq(
    TypeSpec("Specimen", 400, 50),
    TypeSpec("Patient", 700, 70),
    TypeSpec("Observation", 5200, 30),
    TypeSpec("Condition", 600, 45))

  final case class Resource(id: String, version: Long, json: String, valid: Boolean)

  /** One type's source at one generation. */
  final case class Source(resourceType: String, entries: IndexedSeq[Resource]) {
    lazy val valid: Map[String, Long] =
      entries.iterator.filter(_.valid).map(r => r.id -> r.version).toMap
    lazy val payload: Map[String, Int] =
      entries.iterator.filter(_.valid).map(r => r.id -> r.json.length).toMap
  }

  private val words = Array("fasting", "serum", "plasma", "left", "right", "acute",
    "chronic", "follow", "up", "normal", "elevated", "reduced", "sample", "clinic",
    "ward", "review", "stable", "noted", "history", "family", "screening", "result",
    "pending", "confirmed", "routine", "urgent", "morning", "evening", "dose", "level")

  /** Both generations of one type, rendered to JSON. */
  def generate(spec: TypeSpec, seed: Long): (Source, Source) = {
    val rng = new java.util.Random(seed * 1000003L + spec.name.hashCode)
    val n = spec.count
    val churn = math.max(1, n / 100)
    val nUpdate = math.max(1, n / 50)
    val nInvalid = math.max(1, n / 100)
    val prefix = f"${spec.name.take(3).toLowerCase}-${rng.nextInt(1 << 20)}%05x"
    // id pool: gen0 = [0, n), gen1 = [churn, n + churn)
    val base = (0 until n + churn).map(i => f"$prefix-$i%06d")
    val version0 = base.map(_ => 1L + rng.nextInt(9))
    val bumped = mutable.HashSet.empty[Int]
    while (bumped.size < nUpdate) bumped += churn + rng.nextInt(n - churn)
    val bodies = base.indices.map(i => body(spec, i, rng))
    def render(i: Int, version: Long): Resource = {
      val id = base(i)
      Resource(id, version, resourceJson(spec.name, Some(id), version.toString, bodies(i)), valid = true)
    }
    val invalid = (0 until nInvalid).map { k =>
      if (k % 2 == 0)
        Resource("", 1L, resourceJson(spec.name, None, "1", bodies(k)), valid = false)
      else
        Resource(s"$prefix-bad-$k", 1L,
          resourceJson(spec.name, Some(s"$prefix-bad-$k"), s"v$k", bodies(k)), valid = false)
    }
    def interleave(valid: IndexedSeq[Resource]): IndexedSeq[Resource] = {
      val out = valid.toBuffer
      invalid.zipWithIndex.foreach { case (r, k) => out.insert((k * 97) % (out.size + 1), r) }
      out.toIndexedSeq
    }
    val gen0 = interleave((0 until n).map(i => render(i, version0(i))))
    val gen1 = interleave((churn until n + churn).map(i =>
      render(i, if (bumped(i)) version0(i) + 1 else version0(i))))
    (Source(spec.name, gen0), Source(spec.name, gen1))
  }

  private def body(spec: TypeSpec, i: Int, rng: java.util.Random): String = {
    val nWords = spec.noteWords / 2 + rng.nextInt(spec.noteWords + 1)
    val note = Iterator.fill(nWords)(words(rng.nextInt(words.length))).mkString(" ")
    val code = 1000 + rng.nextInt(9000)
    val subject = rng.nextInt(100000)
    spec.name match {
      case "Patient" =>
        s""""active":true,"gender":"${if (rng.nextBoolean()) "female" else "male"}","birthDate":"19${10 + rng.nextInt(90)}-0${1 + rng.nextInt(9)}-1${rng.nextInt(10)}","name":[{"family":"Fam$code","given":["Given$subject"]}],"text":{"status":"generated","div":"$note"}"""
      case "Observation" =>
        s""""status":"final","code":{"coding":[{"system":"http://loinc.org","code":"$code-${rng.nextInt(10)}"}]},"subject":{"reference":"Patient/$subject"},"valueQuantity":{"value":${rng.nextInt(1000) / 10.0},"unit":"mg/dL"},"note":[{"text":"$note"}]"""
      case "Condition" =>
        s""""clinicalStatus":{"coding":[{"code":"active"}]},"code":{"coding":[{"system":"http://snomed.info/sct","code":"$code$subject"}]},"subject":{"reference":"Patient/$subject"},"onsetDateTime":"20${10 + rng.nextInt(14)}-0${1 + rng.nextInt(9)}-0${1 + rng.nextInt(9)}","note":[{"text":"$note"}]"""
      case _ =>
        s""""type":{"coding":[{"code":"$code"}]},"subject":{"reference":"Patient/$subject"},"collection":{"collectedDateTime":"2023-0${1 + rng.nextInt(9)}-1${rng.nextInt(10)}"},"note":[{"text":"$note"}]"""
    }
  }

  private def resourceJson(tpe: String, id: Option[String], version: String, body: String): String =
    s"""{"resourceType":"$tpe",""" + id.fold("")(v => s""""id":"$v",""") +
      s""""meta":{"versionId":"$version","lastUpdated":"2024-01-01T00:00:00Z"},$body}"""

  /** Pre-rendered search pages, keyed by the exact URLs the `blaze`
    * source requests: one `_count=0` probe and one page per offset.
    */
  def pages(src: Source, baseUrl: String, pageSize: Int): Map[String, String] = {
    val t = src.resourceType
    val total = src.entries.size
    val probe = s"$baseUrl/fhir/$t?_count=0" ->
      s"""{"resourceType":"Bundle","type":"searchset","total":$total}"""
    val data = src.entries.grouped(pageSize).zipWithIndex.map { case (page, i) =>
      s"$baseUrl/fhir/$t?_count=$pageSize&_getpagesoffset=${i.toLong * pageSize}&_history=current" ->
        page.map(r => s"""{"resource":${r.json}}""")
          .mkString(s"""{"resourceType":"Bundle","type":"searchset","total":$total,"entry":[""", ",", "]}")
    }
    (Iterator(probe) ++ data).toMap
  }
}
