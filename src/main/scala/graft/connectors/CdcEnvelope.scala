package graft.connectors

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** Binlog-style CDC envelope and its pure collapse semantics
  * (SURVEY §2.2 "Binlog CDC ingestion"). [public: MySQL ROW binlog format;
  * Debezium envelope shape]
  *
  * `position` is the global binlog offset (total order), `op` ∈ c/u/d.
  * The collapse rules are exactly what CdcOps.i02/i03 prove against the
  * DuckDB oracle on the events fixture; here they are factored as typed,
  * reusable functions; [[SchemaReplicator]]'s streaming state machine
  * mirrors them, and its replicator invariant is stated against
  * [[CdcCollapse.effectiveState]].
  */
final case class CdcEvent(
    key: Long,
    position: Long,
    tsMicros: Long,
    op: String, // "c" | "u" | "d"
    payload: String)

/** A [[CdcEvent]] tagged with its source table: the whole-schema binlog is
  * ONE totally-ordered log whose row events interleave across tables
  * (`position` stays the global offset), which is why multi-table
  * replication is one stream fanned out by table, not N independent
  * streams — see [[SchemaReplicator]]. */
final case class TableCdcEvent(
    table: String,
    key: Long,
    position: Long,
    tsMicros: Long,
    op: String,
    payload: String) {
  def untagged: CdcEvent = CdcEvent(key, position, tsMicros, op, payload)
}

object CdcCollapse {

  /** Latest event per key by (tsMicros, position) — ReplacingMergeTree FINAL. */
  def latestPerKey(events: Dataset[CdcEvent])(implicit s: SparkSession): Dataset[CdcEvent] = {
    import s.implicits._
    events.groupByKey(_.key).reduceGroups { (a, b) =>
      val cmp = Ordering.Tuple2[Long, Long]
        .compare((a.tsMicros, a.position), (b.tsMicros, b.position))
      if (cmp >= 0) a else b
    }.map(_._2)
  }

  /** Apply tombstones: keys whose latest op is a delete disappear
    * (CollapsingMergeTree / replication DELETE semantics). */
  def applyTombstones(latest: Dataset[CdcEvent])(implicit s: SparkSession): Dataset[CdcEvent] =
    latest.filter(_.op != "d")

  /** Full upsert collapse: the effective table state after replaying the log. */
  def effectiveState(events: Dataset[CdcEvent])(implicit s: SparkSession): Dataset[CdcEvent] =
    applyTombstones(latestPerKey(events))
}

/** Schema-change (DDL) events from the binlog — the recurring replicator
  * pain point row envelopes don't cover: an upstream ALTER TABLE must reach
  * the sink BEFORE the first row event written against the new schema, or
  * the insert fails. Events arrive structured (the Debezium-style envelope
  * ships parsed schema changes; we do not re-parse MySQL DDL text) and are
  * mapped through the same §1.2 type matrix as CREATE (ClickHouseDdl.field),
  * so CREATE and ALTER can never disagree on a type. [public: Debezium
  * schema-change topic shape; ClickHouse ALTER TABLE docs]
  */
sealed trait DdlEvent { def table: String }
/** Column added upstream; `after` preserves MySQL column order (CH honors
  * AFTER too — keeping physical order aligned keeps INSERT-by-position
  * tooling working). */
final case class AddColumn(table: String, column: StructField,
                           after: Option[String] = None) extends DdlEvent
final case class DropColumn(table: String, name: String) extends DdlEvent
/** Type/nullability change. MySQL widenings (INT→BIGINT, VARCHAR(n)→TEXT)
  * map to in-place CH MODIFYs; narrowing is the operator's responsibility
  * upstream. */
final case class ModifyColumn(table: String, column: StructField) extends DdlEvent
final case class RenameColumn(table: String, from: String, to: String) extends DdlEvent

/** Wire form of a [[DdlEvent]] as it arrives on the schema-change stream
  * (Debezium-style parsed record, one JSON line per change). Decoding is
  * two-stage dead-lettering, proven in ConnectorsSpec's quarantine chain:
  * malformed JSON dead-letters at [[JsonIngest.parse]] (syntactic), and a
  * record that parses but carries an unknown kind / unparsable type /
  * missing operand dead-letters at [[DdlWire.decode]] (semantic) — a bad
  * schema change must never half-apply to one side of the replica. */
final case class DdlWire(position: Long, kind: String, table: String,
                         name: String, sparkType: Option[String],
                         after: Option[String], to: Option[String])

object DdlWire {

  /** Decode one syntactically-valid wire record; Left(reason) routes to
    * the dead-letter queue. Added columns arrive nullable (§1.2: post-JDBC
    * everything is nullable). */
  def decode(w: DdlWire): Either[String, DdlEvent] = {
    def typed: Either[String, org.apache.spark.sql.types.DataType] =
      w.sparkType.toRight(s"DDL `${w.kind}` missing sparkType").flatMap { t =>
        try Right(org.apache.spark.sql.types.DataType.fromDDL(t))
        catch { case e: Exception => Left(s"unparsable type `$t`") }
      }
    w.kind match {
      case "add" => typed.map(t =>
        AddColumn(w.table, StructField(w.name, t), w.after))
      case "drop" => Right(DropColumn(w.table, w.name))
      case "modify" => typed.map(t => ModifyColumn(w.table, StructField(w.name, t)))
      case "rename" => w.to.toRight(s"DDL rename of `${w.name}` missing `to`")
        .map(t => RenameColumn(w.table, w.name, t))
      case k => Left(s"unknown DDL kind `$k`")
    }
  }
}

object DdlPropagate {

  /** Render the ClickHouse ALTER statement for one upstream DDL event. */
  def toClickHouseSql(e: DdlEvent): String = e match {
    case AddColumn(t, f, after) =>
      s"ALTER TABLE `$t` ADD COLUMN `${f.name}` ${ClickHouseDdl.field(f)}" +
        after.map(a => s" AFTER `$a`").getOrElse("")
    case DropColumn(t, n)    => s"ALTER TABLE `$t` DROP COLUMN `$n`"
    case ModifyColumn(t, f)  =>
      s"ALTER TABLE `$t` MODIFY COLUMN `${f.name}` ${ClickHouseDdl.field(f)}"
    case RenameColumn(t, a, b) => s"ALTER TABLE `$t` RENAME COLUMN `$a` TO `$b`"
  }

  /** Apply the same event to the Spark-side schema, so the ingest frame and
    * the sink DDL advance in lockstep (the invariant a replicator needs:
    * one event, two synchronized views of the schema).
    *
    * Events naming a column the schema doesn't have FAIL (like AddColumn's
    * `after` lookup already did): a silent no-op here while
    * [[toClickHouseSql]] still renders the ALTER is exactly the
    * schema-drift this function exists to prevent — a replayed or
    * out-of-order DDL stream must surface on the Spark side, not diverge. */
  def applyToSchema(schema: StructType, e: DdlEvent): StructType = {
    def require_(name: String): Unit =
      if (!schema.fieldNames.contains(name))
        throw new IllegalArgumentException(
          s"DDL event $e names column `$name` absent from ${schema.fieldNames.mkString(",")}")
    e match {
      case AddColumn(_, f, after) =>
        val idx = after.map(a => schema.fieldIndex(a) + 1).getOrElse(schema.length)
        StructType((schema.fields.take(idx) :+ f) ++ schema.fields.drop(idx))
      case DropColumn(_, n) =>
        require_(n)
        StructType(schema.fields.filterNot(_.name == n))
      case ModifyColumn(_, f) =>
        require_(f.name)
        StructType(schema.fields.map(x => if (x.name == f.name) f else x))
      case RenameColumn(_, a, b) =>
        require_(a)
        StructType(schema.fields.map(x => if (x.name == a) x.copy(name = b) else x))
    }
  }
}
