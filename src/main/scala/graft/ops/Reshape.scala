package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema reshaping — the reference's only genuinely custom logic
  * (SURVEY §2.2 P3–P6, §2.8 F6–F8; `script/helper.py:19-96,150-186`).
  *
  * Everything here is driver-side plan construction: it builds a single wide
  * `select`, so Catalyst sees one projection (CollapseProject folds it with
  * neighbours) and executors never materialize intermediate schemas.
  */
object Reshape {

  /** F8 / `Helper.nest_schema` (`script/helper.py:19-51`): re-nest a flat
    * schema whose column names encode structure with `_` separators
    * (`classified_geo_city` → `classified.geo.city` struct) into real
    * `StructType` columns for JSON export.
    *
    * A name that is both a leaf and a prefix of other columns (`a` and
    * `a_b`) is ambiguous — rejected, matching the reference's dict-tree
    * which cannot represent it either.
    */
  def nestSchema(df: DataFrame): DataFrame = {
    sealed trait Node
    case class Leaf(fullName: String) extends Node
    case class Branch(children: scala.collection.mutable.LinkedHashMap[String, Node]) extends Node

    val root = Branch(scala.collection.mutable.LinkedHashMap.empty)
    df.columns.foreach { c =>
      val parts = c.split("_")
      var cur = root
      parts.zipWithIndex.foreach { case (p, i) =>
        if (i == parts.length - 1) {
          if (cur.children.contains(p))
            throw new IllegalArgumentException(s"ambiguous column nesting at '$c'")
          cur.children(p) = Leaf(c)
        } else {
          cur.children.getOrElseUpdate(p, Branch(scala.collection.mutable.LinkedHashMap.empty)) match {
            case b: Branch => cur = b
            case _: Leaf =>
              throw new IllegalArgumentException(s"ambiguous column nesting at '$c'")
          }
        }
      }
    }

    def emit(node: Node): Column = node match {
      case Leaf(full) => col(full)
      case Branch(ch) =>
        struct(ch.map { case (name, n) => emit(n).alias(name) }.toSeq: _*)
    }

    df.select(root.children.map { case (name, n) => emit(n).alias(name) }.toSeq: _*)
  }

  /** Inverse of [[nestSchema]] (for tests): flatten struct columns back to
    * `_`-joined flat names, depth-first in field order.
    */
  def flattenSchema(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.StructType
    def expand(prefix: String, c: Column, dt: org.apache.spark.sql.types.DataType): Seq[Column] =
      dt match {
        case st: StructType =>
          st.fields.toSeq.flatMap(f => expand(s"${prefix}_${f.name}", c.getField(f.name), f.dataType))
        case _ => Seq(c.alias(prefix))
      }
    df.select(df.schema.fields.toSeq.flatMap(f => expand(f.name, col(f.name), f.dataType)): _*)
  }

  /** P4 nested form (`script/main.py:123`, `script/helper.py:157-163`): drop
    * columns OR nested struct fields by dotted path (`a.b.c`), the
    * DynamicFrame `drop_fields(paths=[...])` semantics. Top-level names drop
    * the column; deeper paths rewrite just the enclosing top-level column
    * with `Column.dropFields` (one projection, executor-side no-op for
    * untouched columns). Unknown paths are ignored, matching the reference.
    */
  def dropPaths(df: DataFrame, paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val (flat, nested) = paths.partition(!_.contains("."))
    // A nested path only applies when every segment up to the LAST resolves
    // through struct fields (case-insensitively, matching dropFields'
    // default resolver); anything else — absent top-level column, missing
    // or non-struct intermediate — is silently ignored, the reference's
    // drop_fields no-op semantics. (dropFields itself already no-ops on a
    // missing FINAL field but throws on bad intermediates.)
    def resolves(dt: DataType, segs: List[String]): Boolean = dt match {
      case st: StructType => segs match {
        case _ :: Nil  => true // final segment: dropFields handles missing
        case s :: rest => st.fields.find(_.name.equalsIgnoreCase(s))
          .exists(f => resolves(f.dataType, rest))
        case Nil => false
      }
      case _ => false // path descends through a non-struct — ignore
    }
    val nestedByTop = nested.groupBy(_.takeWhile(_ != '.'))
    val structTypes = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[StructType] =>
        f.name -> f.dataType.asInstanceOf[StructType]
    }.toMap
    val kept = df.columns.filterNot(flat.contains).flatMap { c =>
      (nestedByTop.get(c), structTypes.get(c)) match {
        case (Some(ps), Some(st)) =>
          val subs = ps.map(_.dropWhile(_ != '.').drop(1))
            .filter(sub => resolves(st, sub.split('.').toList))
          // dropping EVERY field empties the struct, which dropFields
          // rejects — dropping the column is what that spelling means
          // (matched case-insensitively like dropFields resolves)
          val covered = st.fieldNames.forall(f =>
            subs.exists(_.equalsIgnoreCase(f)))
          if (subs.isEmpty) Some(col(c))
          else if (covered) None
          else Some(col(c).dropFields(subs: _*).alias(c))
        case _ => Some(col(c))
      }
    }
    df.select(kept.toSeq: _*)
  }

  /** P5 (`script/main.py:174-178`, `script/helper.py:150-155`): strip a
    * prefix from every matching column name (optionally restricted to a
    * configured list), as ONE select — not a fold of `withColumnRenamed`,
    * which would build an O(n) deep plan for Catalyst to collapse.
    */
  def stripPrefix(df: DataFrame, prefix: String, only: Option[Set[String]] = None): DataFrame = {
    val cols = df.columns.map { c =>
      val eligible = c.startsWith(prefix) && only.forall(_.contains(c))
      if (eligible) col(c).alias(c.stripPrefix(prefix)) else col(c)
    }
    df.select(cols.toSeq: _*)
  }

  /** P3 (`script/main.py:96-110`): keep only columns matching the configured
    * prefix families — the reference's runtime-schema-driven projection.
    */
  def selectByPrefixes(df: DataFrame, prefixes: Seq[String]): DataFrame =
    df.select(df.columns.filter(c => prefixes.exists(c.startsWith)).map(col).toSeq: _*)

  /** JSON-export column policy (`script/helper.py:157-163`): drop every
    * column carrying one of the configured prefixes unless whitelisted in
    * `keep` — the reference's `classified_*` / `userDefined_*` rule with
    * `colsToKeep` as the whitelist.
    */
  def dropPrefixedExcept(df: DataFrame, prefixes: Seq[String],
                         keep: Set[String]): DataFrame =
    df.drop(df.columns.filter(c =>
      prefixes.exists(c.startsWith) && !keep.contains(c)).toSeq: _*)

  /** F6 (`script/helper.py:74-96`): dynamic CASE chain built from a mapping:
    * `CASE WHEN key = k1 THEN v1 ... ELSE default END` where each value is a
    * column reference. Deterministic order: mapping iteration order.
    */
  def whenChain(key: Column, mapping: Seq[(String, Column)], default: Column): Column =
    mapping.foldLeft(Option.empty[Column]) { case (acc, (k, v)) =>
      Some(acc.map(_.when(key === k, v)).getOrElse(when(key === k, v)))
    }.map(_.otherwise(default)).getOrElse(default)

  /** F7 (`script/helper.py:53-62`): single-entry map column keyed by the
    * lower-cased type with NOT_APPLICABLE defaulting.
    */
  def subTypeMap(typeCol: Column, valueCol: Column): Column =
    when(valueCol.isNotNull, map(lower(typeCol), valueCol))
      .otherwise(map(lower(typeCol), lit("NOT_APPLICABLE")))
}
