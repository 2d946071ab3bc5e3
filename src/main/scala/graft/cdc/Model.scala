package graft.cdc

/** Core CDC data model, mirroring the reference's protobuf envelope
  * (pgcapture pb/pgcapture.proto:15-60) re-expressed as Spark-friendly
  * case classes with Catalyst encoders.
  *
  * A change is one row-level event. `newFields`/`oldFields` are maps of
  * column name -> PG *binary wire format* datum; a key that maps to
  * null is SQL NULL, while an *absent* key is an unchanged TOAST column
  * (reference pkg/decode/decoder.go:98-115) — the distinction survives
  * Spark's MapType representation because map keys are simply omitted.
  * `oids` carries the column type OIDs from the schema registry so a
  * typed projection can decode each datum (see [[graft.codec.PgType]]).
  */
final case class CdcEvent(
    op: String,            // INSERT | UPDATE | DELETE | TRUNCATE | MESSAGE | DDL | BEGIN | COMMIT | KEEPALIVE
    schema: String,
    table: String,
    newFields: Map[String, Array[Byte]],
    oldFields: Map[String, Array[Byte]],
    oids: Map[String, Int],
    lsn: Long,
    seq: Int,
    commitTs: java.sql.Timestamp)

object CdcEvents {
  /** The streaming source's envelope DataFrame as a typed
    * `Dataset[CdcEvent]` (SURVEY §1.1 "unbounded streaming
    * Dataset[CdcEvent]") — map columns renamed onto the case-class
    * fields; TOAST semantics survive because the maps move as-is. */
  def typed(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.Dataset[CdcEvent] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[CdcEvent]
    df.select(
      org.apache.spark.sql.functions.col("op"),
      org.apache.spark.sql.functions.col("schema"),
      org.apache.spark.sql.functions.col("table"),
      org.apache.spark.sql.functions.col("new").as("newFields"),
      org.apache.spark.sql.functions.col("old").as("oldFields"),
      org.apache.spark.sql.functions.col("oids"),
      org.apache.spark.sql.functions.col("lsn"),
      org.apache.spark.sql.functions.col("seq"),
      org.apache.spark.sql.functions.col("commit_ts").as("commitTs")).as[CdcEvent]
  }
}

object CdcOp {
  val Insert = "INSERT"
  val Update = "UPDATE"
  val Delete = "DELETE"
  /** Table-level clear control row (pgoutput 'T', one per affected
    * relation — first-class since r15; new/old maps are null). */
  val Truncate = "TRUNCATE"
  /** Logical-decoding message control row (pgoutput 'M', PG14+ —
    * first-class since r15): table = the message prefix, new image =
    * (content bytea, transactional bool, message_lsn int8). Not table
    * DML — the applier passes it over; consumers route on op/prefix. */
  val Message = "MESSAGE"
  val Ddl = "DDL"
  val Begin = "BEGIN"
  val Commit = "COMMIT"
  val KeepAlive = "KEEPALIVE"
}

/** Total-ordered stream cursor, `(lsn, seq)` lexicographic — the
  * reference's `cursor.Checkpoint.After` (pkg/cursor/main.go:13-48).
  * Serialized form `lsn|seq` in hex, as the reference's Pulsar message
  * key (pkg/sink/pulsar.go:99-175).
  */
final case class Checkpoint(lsn: Long, seq: Int) extends Ordered[Checkpoint] {
  def compare(that: Checkpoint): Int = {
    val c = java.lang.Long.compareUnsigned(lsn, that.lsn)
    if (c != 0) c else Integer.compare(seq, that.seq)
  }
  def after(that: Checkpoint): Boolean = this > that
  def serialize: String =
    java.lang.Long.toHexString(lsn) + "|" + Integer.toHexString(seq)
}

object Checkpoint {
  val Zero: Checkpoint = Checkpoint(0L, 0)
  /** Greatest checkpoint: no checkpoint is after it. */
  val Max: Checkpoint = Checkpoint(-1L, Int.MaxValue)
  def parse(s: String): Checkpoint = {
    val i = s.indexOf('|')
    require(i > 0, s"malformed checkpoint '$s'")
    Checkpoint(
      java.lang.Long.parseUnsignedLong(s.substring(0, i), 16),
      Integer.parseUnsignedInt(s.substring(i + 1), 16))
  }
}
