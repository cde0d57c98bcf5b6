package graft.model

/** The engine's data model: the reference's resource-type universe and
  * mirror-table naming. The wire shape (a FHIR Bundle searchset page,
  * reference `src/models.rs:13-29`) is read only by the `blaze` source
  * ([[graft.source.v2.BlazeTableProvider]]); the mirror-table DDL
  * (reference `src/db_utils.rs:88-111`) lives in [[graft.sink.JdbcUpsert]].
  */
object Schemas {

  /** The reference's hard-coded resource-type universe
    * (reference `src/main.rs:304-305`); table name = lowercase type
    * (reference `src/main.rs:185`).
    */
  val resourceTypes: Seq[String] = Seq("Specimen", "Patient", "Observation", "Condition")

  def tableName(resourceType: String): String = resourceType.toLowerCase
}
