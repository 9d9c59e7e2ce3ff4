package graft.util

import org.apache.spark.sql.types.{StructField, StructType}

/** Union-by-name schema merge for the snapshot store's pinned
  * `#schema` manifest header (SnapshotStore.mergedSchemaMeta): an
  * append that ADDS columns widens the pinned schema; one that
  * REPEATS columns must agree on their types. Spark's own
  * `StructType.merge` is `private[sql]`, and its type-coercion rules
  * (e.g. decimal widening) are broader than what the vectorized
  * parquet reader can actually deliver under a user-specified schema
  * — so this merge is strictly conservative: same name must mean the
  * SAME type, or the merge fails and the caller pins no schema
  * (readers resolve the commits' markers) rather than pin a schema
  * some data file can't satisfy.
  * Nullability unions (a column absent from older files reads as
  * null). Field order: base fields first, then new fields in their
  * incoming order — stable across repeated appends. */
object SchemaMerge {

  /** Merge `next` into `base`. Throws [[graft.QueryError]] when a
    * shared column disagrees on type. */
  def merge(base: StructType, next: StructType): StructType = {
    val byName = base.fields.map(f => f.name -> f).toMap
    val updated = base.fields.map { f =>
      next.fields.find(_.name == f.name) match {
        case Some(n) if n.dataType != f.dataType =>
          throw new graft.QueryError(
            s"schema evolution cannot change column ${f.name} from " +
              s"${f.dataType.simpleString} to ${n.dataType.simpleString}")
        case Some(n) =>
          StructField(f.name, f.dataType, f.nullable || n.nullable)
        case None => f.copy(nullable = true) // absent in new files → null
      }
    }
    // columns the base's files don't have must read as null there
    val added = next.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(updated ++ added)
  }
}
