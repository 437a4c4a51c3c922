package graft.catalog

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, BasePredicate, BindReferences, Expression, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, StructType}

/** Table CHECK constraints (Delta's `ALTER TABLE ... ADD CONSTRAINT`
  * surface, expressed through TBLPROPERTIES): a property
  * `graft.constraint.<name> = '<boolean sql>'` declares an invariant every
  * written row must satisfy, enforced BEFORE any commit on every write
  * path of a manifest table — batch INSERT (append + overwrite), streaming
  * epochs, copy-on-write DML rewrites and merge-on-read DML inserts. A
  * violating write fails loudly and leaves the table state untouched (the
  * staged pool is aborted, no manifest version commits).
  *
  * Semantics follow the SQL standard: a row passes when the expression is
  * TRUE or NULL (`coalesce(expr, true)`), and fails only on FALSE —
  * `n_chars > 0` admits a NULL n_chars; declare `n_chars IS NOT NULL AND
  * n_chars > 0` to reject it.
  *
  * Scale design: enforcement costs ZERO extra passes over the data. The
  * DataFrame path folds the checks into the first column's value
  * expression as lazy `If(violated, raise_error, value)` branches (only
  * the taken branch evaluates, also under whole-stage codegen), so valid
  * data writes at full scan speed; the InternalRow paths (streaming /
  * DML) evaluate one driver-bound, codegen'd [[BasePredicate]] per check
  * per row inside the task writer — no second scan, no driver round-trip.
  *
  * Constraints are a CATALOG concept: core-API writes against a bare table
  * dir ([[graft.core.ManifestTable]]) bypass them, exactly as they bypass
  * column mapping — pipelines mixing both must write through the catalog.
  */
object Constraints {

  /** TBLPROPERTIES key prefix: `graft.constraint.<name>`. */
  val Prefix = "graft.constraint."

  /** RESERVED name of the constraint REPLACE WHERE synthesizes around the
    * incoming batch. User CHECKs may not claim it (DDL rejects), so
    * [[violationIn]] attribution is unambiguous: a violation under this
    * name is always the replace-region check, never a user invariant. */
  val ReplaceWhereName = "__replace_where__"

  /** One named CHECK constraint over the table schema. */
  case class Check(name: String, sql: String)

  /** Backtick-quoted column reference: THE way any catalog write path
    * must reference a column by name — a bare col(n) would parse a
    * column NAMED "a.b" as a nested-field path. */
  private[catalog] def qcol(n: String): org.apache.spark.sql.Column =
    col("`" + n.replace("`", "``") + "`")

  /** The declared checks among table properties, name-sorted (stable
    * enforcement and display order). */
  def fromProperties(props: scala.collection.Map[String, String]): Seq[Check] =
    props.iterator.collect {
      case (k, v) if k.startsWith(Prefix) => Check(k.stripPrefix(Prefix), v)
    }.toSeq.sortBy(_.name)

  /** Top-level column names a constraint expression references (for the
    * DROP/RENAME COLUMN guards) — parsed, unresolved, lowercased. */
  def referencedColumns(spark: SparkSession, sql: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: UnresolvedAttribute => a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
    }.toSet

  /** Parse + resolve a check against the table schema and BIND it to the
    * schema's field ordinals: the returned expression is
    * `coalesce(<sql>, true)` over [[org.apache.spark.sql.catalyst.expressions.BoundReference]]s,
    * serializable to task writers. Rejects unresolvable, non-boolean,
    * non-deterministic, aggregate and subquery expressions — the loud
    * half of the contract, at DECLARATION time, not first-write time. */
  def bind(spark: SparkSession, schema: StructType, check: Check): Expression = {
    require(check.name.nonEmpty && check.name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"constraint name '${check.name}' must be [A-Za-z0-9_-]+")
    val what = s"CHECK constraint ${check.name}"
    val (raw, out) = resolveRowPredicate(spark, schema, what, check.sql)
    // NULL PASSES (SQL CHECK semantics): wrap the resolved predicate in
    // coalesce(<sql>, true) before binding to the write schema's ordinals
    BindReferences.bindReference(
      org.apache.spark.sql.catalyst.expressions.Coalesce(
        Seq(raw, org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)),
      out)
  }

  /** Parse + resolve a row-level BOOLEAN expression against `schema`,
    * returning (the analyzed expression over NAMED attribute refs, the
    * leaf relation's output to bind against). Rejects unresolvable,
    * non-boolean, non-deterministic, aggregate/window/generator and
    * subquery expressions, all loudly with `what` in the message. Shared
    * by CHECK declaration ([[bind]], which then binds ordinals) and the
    * scoped-compaction `where` (which evaluates the NAMED form against
    * per-file stats). */
  private[graft] def resolveRowPredicate(spark: SparkSession, schema: StructType,
      what: String, sql: String): (Expression, Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) = {
    val (raw, out) = resolveRowExpression(spark, schema, what, sql)
    require(raw.dataType == BooleanType,
      s"$what ('$sql') must be BOOLEAN, got ${raw.dataType.simpleString}")
    (raw, out)
  }

  /** The resolved Catalyst TYPE of a row-level expression against a
    * schema (generated-column DDL validation) — same loudness contract
    * as [[resolveRowPredicate]] minus the boolean requirement. */
  private[catalog] def resolvedType(spark: SparkSession, schema: StructType,
      what: String, sql: String): org.apache.spark.sql.types.DataType =
    resolveRowExpression(spark, schema, what, sql)._1.dataType

  /** Parse + resolve a row-level expression of ANY type against
    * `schema`; rejects unresolvable, non-deterministic,
    * aggregate/window/generator and subquery expressions. */
  private def resolveRowExpression(spark: SparkSession, schema: StructType,
      what: String, sql: String): (Expression, Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) = {
    val parsed = try spark.sessionState.sqlParser.parseExpression(sql)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"$what: cannot parse '$sql': ${e.getMessage}")
    }
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), clean(schema))
    val analyzed = try {
      empty.select(ColumnBridge.column(parsed).as("_c")).queryExecution.analyzed
    } catch {
      case e: AnalysisException => throw new IllegalArgumentException(
        s"$what ('$sql') does not resolve " +
          s"against the table schema ${schema.simpleString}: ${e.getMessage}")
    }
    val proj = analyzed match {
      // the child must be the LEAF relation itself: aggregates, windows,
      // and generators all interpose a node whose synthesized attributes
      // would bind PAST the write schema's arity (a window constraint
      // would then index-out-of-bounds in the task writers)
      case p: Project
          if p.child.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LeafNode] => p
      case other => throw new IllegalArgumentException(
        s"$what ('$sql') must be a row-level " +
          "boolean expression — aggregates/windows/generators are not " +
          s"allowed (planned ${other.nodeName} over ${other.children.map(_.nodeName).mkString(",")})")
    }
    val raw = proj.projectList.head match {
      case a: Alias => a.child
      case e        => e
    }
    require(raw.deterministic,
      s"$what ('$sql') must be deterministic")
    require(!raw.exists(_.isInstanceOf[SubqueryExpression]),
      s"$what ('$sql') cannot contain a subquery")
    (raw, proj.child.output)
  }

  /** Field-id metadata stripped — the check resolves against logical
    * names; carrying write-path metadata into the probe plan is noise. */
  private def clean(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))

  /** The violation predicate as a Column for DataFrame-side use (ALTER
    * validation scans, the [[guard]] branches): true = row VIOLATES. */
  def violated(check: Check): org.apache.spark.sql.Column =
    not(coalesce(expr(check.sql), lit(true)))

  /** Single-pass DataFrame enforcement (batch INSERT path): wraps the
    * FIRST column's value in lazy raise_error branches — one `If` per
    * check, codegen'd, the error branch never evaluated for valid rows,
    * zero extra scans of the input. The error message carries the
    * violating row as JSON when every column type is JSON-renderable,
    * and degrades to name+expression otherwise. */
  def guard(df: DataFrame, checks: Seq[Check]): DataFrame = {
    if (checks.isEmpty) return df
    val names = df.schema.fieldNames.toSeq
    val q = qcol _
    val headName = names.head
    val headType = df.schema.head.dataType
    def wrapped(renderRow: Boolean): DataFrame = {
      val guarded = checks.foldLeft(q(headName)) { (acc, c) =>
        val msg =
          if (renderRow)
            concat(lit(s"CHECK constraint ${c.name} (${c.sql}) violated by row: "),
              to_json(struct(names.map(q): _*)))
          else lit(s"CHECK constraint ${c.name} (${c.sql}) violated by a written row")
        when(violated(c), raise_error(msg).cast(headType)).otherwise(acc)
      }
      df.withColumn(headName, guarded)
    }
    try wrapped(renderRow = true)
    catch { case _: AnalysisException => wrapped(renderRow = false) }
  }

  /** Compiled per-row enforcement for the InternalRow write paths
    * (streaming epochs, DML task writers). Built on the DRIVER (needs the
    * parser/analyzer), shipped serialized; predicates codegen lazily in
    * each task. */
  class RowChecker(checks: Seq[(Check, Expression)])
      extends (InternalRow => Unit) with Serializable {
    @transient private lazy val preds: Seq[(Check, BasePredicate)] =
      checks.map { case (c, e) => (c, Predicate.create(e)) }
    def apply(row: InternalRow): Unit =
      preds.foreach { case (c, p) =>
        if (!p.eval(row))
          throw new IllegalStateException(
            s"CHECK constraint ${c.name} (${c.sql}) violated by a written row")
      }
  }

  /** A [[RowChecker]] over `schema`-shaped rows, None when unconstrained. */
  def rowChecker(spark: SparkSession, schema: StructType,
                 checks: Seq[Check]): Option[RowChecker] =
    if (checks.isEmpty) None
    else Some(new RowChecker(checks.map(c => (c, bind(spark, schema, c)))))

  /** True when `e`'s cause chain carries THIS constraint's violation
    * message — lets gates assert a write failed FOR the constraint, not
    * for any incidental reason (the raise_error / RowChecker messages
    * both lead with "CHECK constraint <name>"). */
  def violationIn(e: Throwable, name: String): Boolean = {
    var cur = e
    var seen = 0
    while (cur != null && seen < 20) {
      if (Option(cur.getMessage).exists(_.contains(s"CHECK constraint $name")))
        return true
      cur = cur.getCause
      seen += 1
    }
    false
  }
}
