package perfbench

import java.util.concurrent.locks.ReentrantLock

import graft.source.v2.PageFetcher
import graft.sink.v2.UpsertConnector

/** The FHIR server stand-in: a lookup into pages rendered during set-up.
  * Spark instantiates the fetcher by class name on each task; in local
  * mode every task shares this JVM and so this map.
  */
object Pages {
  @volatile var byUrl: Map[String, String] = Map.empty
}

class BenchFetcher extends PageFetcher {
  override def fetch(url: String): String = Trace.leaf("source.fetch", "source") {
    val body = Pages.byUrl.getOrElse(url,
      throw new IllegalArgumentException(s"no page rendered for $url"))
    Trace.count("source.requests")
    if (url.contains("_count=0")) Trace.count("source.probes")
    Trace.count("source.page_bytes", body.length.toLong)
    body
  }
}

/** The embedded-Derby mirror. Derby's identity columns refill their
  * sequence cache in a nested transaction that times out against
  * concurrent inserters, so writer transactions pass a single-writer gate
  * (the same constraint the repository's Derby e2e suite works around).
  */
object Mirror {
  System.setProperty("derby.language.sequence.preallocator", "100000")

  val url = "jdbc:derby:memory:perfbench;create=true"
  val gate = new ReentrantLock()

  def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def tables: Seq[String] = graft.model.Schemas.resourceTypes.map(graft.model.Schemas.tableName)

  /** Drop and recreate every mirror table through the program's Derby DDL. */
  def reset(): Unit = withConn { c =>
    val st = c.createStatement()
    tables.foreach { t =>
      try st.execute(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }
      graft.sink.JdbcUpsert.Ansi.ddl(t).foreach(st.execute)
      // draw the identity sequence once, single-threaded, before writers run
      st.execute(s"INSERT INTO $t (resource) VALUES ('{}')")
      st.execute(s"DELETE FROM $t")
    }
  }

  /** The benchmark's own loader: batched prepared INSERTs, one
    * transaction per table. Independent of the program's sink.
    */
  def load(table: String, docs: Iterator[String]): Unit = withConn { c =>
    c.setAutoCommit(false)
    val ps = c.prepareStatement(s"INSERT INTO $table (resource) VALUES (?)")
    docs.grouped(1000).foreach { chunk =>
      chunk.foreach { d => ps.setString(1, d); ps.addBatch() }
      ps.executeBatch()
    }
    c.commit()
  }

  def count(table: String): Long = withConn { c =>
    val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
    rs.next(); rs.getLong(1)
  }

  /** Every mirrored (resource id, versionId), parsed on the client. */
  def versions(table: String): Map[String, String] = withConn { c =>
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rs = c.createStatement().executeQuery(s"SELECT resource FROM $table")
    val out = Map.newBuilder[String, String]
    while (rs.next()) {
      val n = mapper.readTree(rs.getString(1))
      out += n.path("id").asText("") -> n.path("meta").path("versionId").asText("")
    }
    out.result()
  }
}

/** V2-sink connector over the Derby mirror, with the sink layer's
  * counters: statements, SQL bytes, time inside `execute`, time waiting on
  * the gate, transactions, and connections closed without COMMIT.
  */
class BenchConnector extends UpsertConnector {
  override def connect(options: Map[String, String]): (String => Unit, () => Unit) = {
    val c = java.sql.DriverManager.getConnection(Mirror.url)
    val st = c.createStatement()
    val exec: String => Unit = {
      case "BEGIN" =>
        val t0 = System.nanoTime()
        Trace.leaf("sink.gate_wait", "sink")(Mirror.gate.lock())
        Trace.count("sink.gate_wait_ns", System.nanoTime() - t0)
        c.setAutoCommit(false)
        Trace.count("sink.txns")
      case "COMMIT" =>
        c.commit(); c.setAutoCommit(true)
      case sql =>
        val t0 = System.nanoTime()
        Trace.leaf("sink.execute", "sink")(st.execute(sql))
        Trace.count("sink.exec_ns", System.nanoTime() - t0)
        Trace.count("sink.statements")
        Trace.count("sink.sql_bytes", sql.length.toLong)
        Trace.count("sink.rows", math.max(0, st.getUpdateCount).toLong)
    }
    (exec, () => {
      try {
        if (!c.getAutoCommit) { c.rollback(); Trace.count("sink.aborts") }
        c.close()
      } finally if (Mirror.gate.isHeldByCurrentThread) Mirror.gate.unlock()
    })
  }
}
