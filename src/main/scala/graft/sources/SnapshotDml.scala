package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.connector.expressions.{Expression => VExpr, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysTrue, Predicate}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.InsertableRelation

/** SQL DML for the snapshot store — the write half of the catalog
  * face. `INSERT INTO` / `INSERT OVERWRITE` / `DELETE FROM` route
  * THROUGH the store's one commit path, never around it: an insert is
  * a [[SnapshotStore.commitAppend]] (new data directory + manifest
  * published via the atomic hard-link race), an overwrite is a
  * [[SnapshotStore.commitReplace]] — each one call under the table's
  * default spec — and a delete is the copy-on-write
  * [[SnapshotStore.deleteRows]]. Committed data
  * files are still never mutated, every prior version keeps reading
  * its exact files, and two racing SQL writers resolve exactly like
  * two racing Scala committers (one wins the manifest link, the loser
  * gets the retryable conflict).
  *
  * The write rides Spark's V1 fallback seam ([[V1Write]] →
  * [[InsertableRelation]]): the incoming query arrives as a resolved
  * DataFrame and the commit call IS the write — no custom
  * per-partition writer protocol to get wrong, and the store's
  * parquet layout stays identical to the Scala path's. */
private[graft] object SnapshotDml {

  /** The session conf a pure-SQL writer sets to make its next DML
    * statements idempotent under streaming crash-replay — INSERT text
    * has no options clause, so the conf is the only channel a
    * foreachBatch body writing via `spark.sql("INSERT INTO ...")` has
    * for the `"<queryName>:<batchId>"` token the Scala commit API
    * takes as a parameter. */
  val TokenConf = "spark.graft.writer.token"

  /** WriteBuilder for a snapshot table: append by default,
    * replace-commit under `INSERT OVERWRITE` (Spark signals it via
    * [[SupportsTruncate]] — a full-table overwrite truncates then
    * appends, which the store expresses atomically as ONE replace
    * commit).
    *
    * Exactly-once: the commit carries a writer token when the caller
    * provides one — as the `writer_token` write option
    * (`df.writeTo(t).option("writer_token", ...)`) or, for pure SQL
    * INSERT text, the [[TokenConf]] session conf, read at INSERT
    * execution on the writing frame's own session. A replayed
    * micro-batch whose token is already in the store's token log
    * no-ops, exactly like the Scala `commitAppend(df, root, token)`
    * path — without this, a foreachBatch body writing via
    * `INSERT INTO` double-commits on crash-replay. */
  final class SnapshotWriteBuilder(root: String, info: LogicalWriteInfo)
      extends WriteBuilder with SupportsTruncate {
    private var overwrite = false
    override def truncate(): WriteBuilder = { overwrite = true; this }
    override def build(): Write = new V1Write {
      // the streaming half: writeStream.toTable — per-epoch staged
      // parquet + ONE token-deduped CAS commit (complete mode =
      // replace commits); see [[SnapshotStreaming]]
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new SnapshotStreaming.Sink(root, info, overwrite)
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: Dataset[Row], ov: Boolean): Unit = {
            val token = Option(info.options.get("writer_token"))
              .orElse(data.sparkSession.conf.getOption(TokenConf))
              .filter(_.nonEmpty)
            // the table's DEFAULT spec (CREATE ... PARTITIONED BY /
            // CALL system.set_spec) applies to THIS write only —
            // committed layouts never rewrite (Iceberg spec evolution)
            val commit =
              if (overwrite || ov) SnapshotStore.commitReplace _
              else SnapshotStore.commitAppend _
            commit(data, root, token, SnapshotStore.currentSpec(root))
            ()
          }
        }
    }
  }

  /** V2 predicate → Column, for the shapes `DELETE FROM ... WHERE`
    * produces over scalar columns: comparisons, null tests, IN,
    * NOT/AND/OR, and the constant true/false. Returns None for
    * anything else — the caller then REFUSES the delete (Spark
    * reports it un-executable) rather than delete the wrong rows. */
  def predicateToColumn(p: VExpr): Option[Column] = p match {
    case _: AlwaysTrue => Some(lit(true))
    case _: org.apache.spark.sql.connector.expressions.filter.AlwaysFalse =>
      Some(lit(false))
    case gp: Predicate =>
      def kids: Array[VExpr] = gp.children()
      def bin(f: (Column, Column) => Column): Option[Column] =
        for {
          a <- predicateToColumn(kids(0))
          b <- predicateToColumn(kids(1))
        } yield f(a, b)
      gp.name() match {
        case "=" => bin(_ === _)
        case "<>" => bin(_ =!= _)
        case "<" => bin(_ < _)
        case "<=" => bin(_ <= _)
        case ">" => bin(_ > _)
        case ">=" => bin(_ >= _)
        case "AND" => bin(_ && _)
        case "OR" => bin(_ || _)
        case "NOT" => predicateToColumn(kids(0)).map(!_)
        case "IS_NULL" => predicateToColumn(kids(0)).map(_.isNull)
        case "IS_NOT_NULL" => predicateToColumn(kids(0)).map(_.isNotNull)
        case "IN" =>
          val tail = kids.drop(1).toSeq.map(predicateToColumn)
          for {
            c <- predicateToColumn(kids(0))
            vs <- if (tail.forall(_.isDefined)) Some(tail.flatten) else None
          } yield c.isin(vs: _*)
        case _ => None
      }
    case ref: NamedReference if ref.fieldNames().length == 1 =>
      Some(col(ref.fieldNames()(0)))
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      // LiteralValue holds the CATALYST-internal value (UTF8String for
      // strings, micros for timestamps): convert back to the external
      // form lit() understands
      Some(lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(l.value, l.dataType)))
    case _ => None
  }

  /** `DELETE FROM <t> WHERE <pred>`: the conjunction of `predicates`,
    * executed as the copy-on-write [[SnapshotStore.deleteRows]] (only
    * files holding matching rows rewrite; old versions keep reading
    * the pre-delete files). Throws the typed error when a predicate
    * shape is untranslatable — refusing loudly beats deleting wrong
    * rows. */
  def deleteWhere(spark: SparkSession, root: String,
      predicates: Array[Predicate]): Unit = {
    val cols = predicates.map(p => predicateToColumn(p).getOrElse(
      throw new graft.QueryError(
        s"DELETE predicate not supported by the snapshot store: $p")))
    val cond = cols.foldLeft(lit(true))(_ && _)
    SnapshotStore.deleteRows(spark, root, cond)
    ()
  }

  def canDelete(predicates: Array[Predicate]): Boolean =
    predicates.forall(p => predicateToColumn(p).isDefined)
}
