package graft.rules

import graft.schema._

/** User-authored per-table/per-column schema changes, mirroring the
  * reference's rules/schema_changes.json consumed by
  * /root/reference/libs/RuleHandler.py:32-77: rename tables/columns,
  * `_SKIP_` tables/columns, override any column attribute, `_PRE_SQL_`
  * mutations, `_WHERE_` extraction filters and `_JOIN_` extraction
  * joins (MysqlParser.py:104-137).
  */
case class ColumnChange(
    rename: Option[String] = None,
    skip: Boolean = false,
    nullable: Option[Boolean] = None,
    dataType: Option[String] = None,
    default: Option[String] = None,
    reference: Option[Reference] = None,
    // per-column FK ON DELETE override (reference: col_attrs
    // ['on_delete'], PsqlParser.py:400 — e.g. "CASCADE", "SET NULL")
    onDelete: Option[String] = None,
    // the declared MySQL type ("tinyint(1)", "date", "time"), which a
    // parquet source does not carry: it picks the conditional type
    // rules and the raw-dump value conversions
    fullType: Option[String] = None)

case class JoinRule(table: String, col: String, colRef: String)

/** Typed pre-SQL mutation: the reference's FK-orphan DELETE
  * (`DELETE ... WHERE fk NOT IN (SELECT pk FROM parent)`). */
case class OrphanRule(fkCol: String, parentTable: String, parentKey: String)

case class TableChange(
    rename: Option[String] = None,
    skip: Boolean = false,
    columns: Map[String, ColumnChange] = Map.empty,
    preSql: Seq[String] = Nil,
    where: Option[String] = None,
    joins: Seq[JoinRule] = Nil,
    // structured pre-SQL ops (MysqlParser.run_pre_sql): UTC shift over
    // datetime columns and FK-orphan row drops, both gated by the
    // pipeline's skipPreSql flag like the reference's --skip-pre-sql
    utcShiftHours: Option[Int] = None,
    dropOrphans: Seq[OrphanRule] = Nil)

case class SchemaChanges(tables: Map[String, TableChange] = Map.empty) {
  def forTable(name: String): TableChange =
    tables.getOrElse(name, TableChange())
}

/** Node-level from->to maps, mirroring rules/mysql_to_psql.json: type
  * renames with conditional `_IF_` overrides on another attribute
  * (RuleHandler.py:96-108), default-value renames, engine renames. */
case class TypeRule(from: String, to: String,
    ifConds: Seq[(String, String, String)] = Nil) // (attr, value, then-to)

case class NodeRules(
    typeRules: Seq[TypeRule] = Nil,
    defaultRules: Map[String, String] = Map.empty,
    engineRules: Map[String, String] = Map.empty) {

  def mapType(c: ColumnDef): ColumnDef =
    typeRules.find(_.from == c.dataType) match {
      case None => c
      case Some(r) =>
        // _IF_ conditions re-check another attr (only fullType is used
        // by the stock rules) and win over the base mapping.
        val to = r.ifConds.collectFirst {
          case ("fullType", v, thenTo) if c.fullType == v => thenTo
        }.getOrElse(r.to)
        // type change without explicit size resets size (RuleHandler.py:74-75)
        c.copy(dataType = to, size = if (to == c.dataType) c.size else None)
    }

  def mapDefault(c: ColumnDef): ColumnDef =
    c.default.flatMap(defaultRules.get) match {
      case Some(to) => c.copy(default = Some(to))
      case None => c
    }

  def mapEngine(t: TableDef): TableDef =
    engineRules.get(t.engine).map(e => t.copy(engine = e)).getOrElse(t)
}

object NodeRules {
  /** The stock MySQL->PG map (rules/mysql_to_psql.json, verbatim
    * semantics: tinyint(1)/smallint(1)/int(1) -> boolean, blob->bytea,
    * double->decimal, enum->set, MyISAM->INNODB, CURRENT_TIMESTAMP). */
  val mysqlToPg: NodeRules = NodeRules(
    typeRules = Seq(
      TypeRule("datetime", "timestamp"),
      TypeRule("tinyint", "smallint", Seq(("fullType", "tinyint(1)", "boolean"))),
      TypeRule("smallint", "smallint", Seq(("fullType", "smallint(1)", "boolean"))),
      TypeRule("int", "int", Seq(("fullType", "int(1)", "boolean"))),
      TypeRule("mediumint", "int"),
      TypeRule("mediumtext", "text"),
      TypeRule("longtext", "text"),
      TypeRule("longblob", "bytea"),
      TypeRule("blob", "bytea"),
      TypeRule("double", "decimal"),
      TypeRule("varchar", "varchar"),
      TypeRule("enum", "set")),
    defaultRules = Map("CURRENT_TIMESTAMP" -> "current_timestamp"),
    engineRules = Map("MyISAM" -> "INNODB"))
}

/** Applies SchemaChanges then NodeRules over an introspected schema —
  * the Spark-native RuleHandler.obtain_modified_schema. Pure. */
object SchemaRules {

  def apply(schema: Seq[TableDef], changes: SchemaChanges,
      node: NodeRules = NodeRules.mysqlToPg): Seq[TableDef] =
    schema.flatMap(applyTable(_, changes)).map(applyNode(_, node))

  def applyTable(t: TableDef, changes: SchemaChanges): Option[TableDef] = {
    val ch = changes.forTable(t.name)
    if (ch.skip) None
    else Some(t.copy(
      name = ch.rename.getOrElse(t.name),
      columns = t.columns.map { c =>
        ch.columns.get(c.name) match {
          case None => c
          case Some(cc) =>
            // A skipped column is kept but flagged (RuleHandler.py:68-70
            // marks _SKIP_ rather than deleting, so v1 views can emit
            // NULL for it).
            c.copy(
              name = cc.rename.getOrElse(c.name),
              skip = c.skip || cc.skip,
              nullable = cc.nullable.getOrElse(c.nullable),
              dataType = cc.dataType.getOrElse(c.dataType),
              default = cc.default.orElse(c.default),
              reference = cc.reference.orElse(c.reference),
              onDelete = cc.onDelete.orElse(c.onDelete),
              fullType = cc.fullType.getOrElse(c.fullType))
        }
      }))
  }

  def applyNode(t: TableDef, node: NodeRules): TableDef =
    node.mapEngine(t).copy(
      columns = t.columns.map(c => node.mapDefault(node.mapType(c))))
}
