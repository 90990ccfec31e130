package graft.functions

import graft.merge.Versioned
import graft.streaming.VersionedStreamTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** VT29: a Spark `TableCatalog` over versioned-table roots — the pure-SQL
  * surface of the substrate, registered as `spark.sql.catalog.graft` by
  * [[graft.GraftSession]]. The table IDENTIFIER is its root path:
  * {{{
  *   SELECT * FROM graft.`/data/events`                       -- head snapshot
  *   SELECT * FROM graft.`/data/events` VERSION AS OF 3       -- time travel
  *   SELECT * FROM graft.`/data/events` TIMESTAMP AS OF '...' -- vt19 probe
  *   INSERT INTO graft.`/data/events` SELECT ...              -- guarded append
  * }}}
  * Reads resolve to the same DSv2 table as `spark.read.format
  * ("graft-versioned")` — planning-time pruning by the rule every read of
  * the log uses (`Versioned.prunedFiles`: ranges, null counts, blooms),
  * column pruning, executor-side deletion-vector drops — and INSERT INTO routes
  * the V1Write fallback through the log's own verbs (schema contract,
  * CHECK/NOT NULL constraints, pending-txn refusal, CAS). `VERSION AS OF` /
  * `TIMESTAMP AS OF` land on the loadTable overloads Spark calls for SQL
  * time travel (timestamps arrive in MICROseconds). Path-identified tables
  * have no namespace hierarchy: listTables is empty, and creation/rename/
  * drop stay with the library API (a catalog DROP that unlinked a log
  * would be vacuum without retention semantics — refused).
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/") match {
      // SQL `graft.`/abs/path`` parses the whole path into name(); a
      // namespace appears only for dotted idents, which a path is not
      case p if p.startsWith("/") => p
      case p => "/" + p // tolerate a root-relative spelling
    }

  private def tableFor(root: String, asOf: Option[Int]): Table = {
    val v = asOf.map(Versioned.versionState(root, _))
      .orElse(Versioned.currentVersion(root))
      .getOrElse(throw new NoSuchTableException(
        Seq("graft", root)))
    val schema = v.schema.map(StructType.fromDDL).getOrElse(
      Versioned.read(SparkSession.active, root, asOf.orElse(Some(v.n))).schema)
    new VersionedStreamTable(root, schema, startingVersion = 1,
      maxVersionsPerTrigger = 1, ignoreChanges = false,
      colMap = v.colMap, asOf = asOf.orElse(None))
  }

  override def loadTable(ident: Identifier): Table =
    tableFor(rootOf(ident), None)

  /** SQL `VERSION AS OF <v>` — Spark hands the version as a string. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val n = version.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"graft VERSION AS OF takes a version NUMBER, got `$version` — " +
        "for an instant use TIMESTAMP AS OF"))
    tableFor(rootOf(ident), Some(n))
  }

  /** SQL `TIMESTAMP AS OF <t>` — Spark hands MICROseconds since epoch;
    * the log records millis (vt19).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    tableFor(root, Some(Versioned.versionAtTimestamp(root, timestamp / 1000L)))
  }

  override def tableExists(ident: Identifier): Boolean =
    Versioned.currentVersion(rootOf(ident)).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-identified: there is no namespace to enumerate

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft catalog tables are created by their first append " +
        "(Versioned.append / df.write.format(\"graft-versioned\")), not DDL")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "alter through the library API (evolve/evolveDrop/evolveRename/addConstraint)")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "a catalog DROP would delete data without retention semantics — use " +
        "vacuum/archiveManifests, then remove the directory")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "a versioned table root is a plain directory — move it and re-address")
}
