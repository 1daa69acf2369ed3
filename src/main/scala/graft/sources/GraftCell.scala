package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** COLUMN MAPPING (b101) — the Iceberg field-id / Delta column-mapping
  * shape in miniature: each SCHEMA column owns a stable PHYSICAL SLOT
  * in stored row arrays, decoupled from its schema position and name.
  * That one indirection is what makes RENAME (metadata-only: the slot
  * doesn't move), DROP (the slot is orphaned, never reused — a later
  * ADD gets a FRESH slot, so dropped data can never resurrect under a
  * new column), and type WIDENING (old cells keep their narrow
  * physical type; `widened` marks the slots whose reads coerce up)
  * all metadata-only commits with zero data passes.
  *
  * `phys(i)` = the physical slot of schema column `i`; `physWidth` =
  * total slots ever allocated (stored rows written now are this
  * wide); `widened` = PHYSICAL slots whose schema type widened after
  * rows were stored (slot-keyed, so it survives drops of other
  * columns without reindexing).
  */
private[sources] final case class GraftColMap(phys: Vector[Int],
    physWidth: Int, widened: Set[Int]) {
  require(phys.forall(p => p >= 0 && p < physWidth),
    s"colmap slots $phys out of range [0, $physWidth)")
}

private[sources] object GraftColMap {
  def identity(n: Int): GraftColMap =
    GraftColMap(Vector.range(0, n), n, Set.empty)
}

/** The graftmem cell codec (b85): table rows are `Array[Any]` of
  * EXTERNALIZED values — java.lang.Long (BIGINT), java.lang.Integer
  * (INT), java.lang.Boolean (BOOLEAN), String (STRING),
  * java.math.BigDecimal (DECIMAL) — one codec for every face that
  * moves a cell between Spark's internal row format and the store
  * (writers, scan readers, snapshot readers, change-feed readers,
  * delta writers, branch tables). CREATE-time columns stay BIGINT
  * (the demo-table contract every existing query builds on); ALTER
  * ADD COLUMNS accepts the full family with a typed literal DEFAULT,
  * and rows written before the ALTER stay physically narrower —
  * readers pad the missing tail with the column's INITIAL DEFAULT
  * (the Iceberg-v3 shape: a default is fixed at add time, never
  * rewritten into old rows).
  *
  * Cells are never SQL NULL: a null cell arriving at a writer (e.g. a
  * MERGE insert that doesn't set an ALTER-added column) stores the
  * column's default — the documented connector semantic since the
  * LONG/0 era, now typed.
  */
private[sources] object GraftCell {

  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | BooleanType | StringType => true
    case _: DecimalType                                    => true
    case _                                                 => false
  }

  /** The type's zero value — the initial default when the ALTER
    * declares none (BIGINT keeps the historical 0).
    */
  def zeroOf(dt: DataType): Any = dt match {
    case LongType       => java.lang.Long.valueOf(0L)
    case IntegerType    => java.lang.Integer.valueOf(0)
    case BooleanType    => java.lang.Boolean.FALSE
    case StringType     => ""
    case d: DecimalType => java.math.BigDecimal.ZERO.setScale(d.scale)
    case other => throw new UnsupportedOperationException(
      s"graftmem: unsupported column type $other")
  }

  /** Externalize a connector literal's (internal) value as a cell of
    * the target column type. The analyzer folds and casts the DEFAULT
    * expression before it reaches the catalog, but coerce defensively.
    */
  def fromLiteral(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => throw new UnsupportedOperationException(
      "graftmem: DEFAULT NULL is not supported — this store has no " +
        "null cells; omit the DEFAULT for the type's zero value")
    case (n: java.lang.Number, LongType) =>
      java.lang.Long.valueOf(n.longValue())
    case (n: java.lang.Number, IntegerType) =>
      java.lang.Integer.valueOf(n.intValue())
    case (b: java.lang.Boolean, BooleanType) => b
    case (s: UTF8String, StringType)         => s.toString
    case (s: String, StringType)             => s
    case (d: Decimal, t: DecimalType) =>
      d.toJavaBigDecimal.setScale(t.scale)
    case (n: java.lang.Number, t: DecimalType) =>
      new java.math.BigDecimal(n.toString).setScale(t.scale)
    case (v, t) => throw new UnsupportedOperationException(
      s"graftmem: cannot use ${v.getClass.getSimpleName} '$v' as a " +
        s"$t DEFAULT")
  }

  /** Read one cell from a writer's InternalRow position. */
  def read(row: InternalRow, j: Int, dt: DataType): Any = dt match {
    case LongType    => java.lang.Long.valueOf(row.getLong(j))
    case IntegerType => java.lang.Integer.valueOf(row.getInt(j))
    case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(j))
    case StringType  => row.getUTF8String(j).toString
    case d: DecimalType =>
      row.getDecimal(j, d.precision, d.scale).toJavaBigDecimal
    case other => throw new UnsupportedOperationException(
      s"graftmem: unsupported column type $other")
  }

  /** A writer-side cell: absent column (-1) or SQL NULL → the default. */
  def writeCell(row: InternalRow, j: Int, dt: DataType, dflt: Any): Any =
    if (j < 0 || row.isNullAt(j)) dflt else read(row, j, dt)

  /** Per-column writer getters, type-dispatched ONCE per column (the
    * write path runs per cell — a per-cell match is measurable on the
    * demo store).
    */
  def writeGetters(proj: Array[Int], types: Array[DataType],
      defaults: Array[Any]): Array[InternalRow => Any] =
    Array.tabulate(proj.length) { i =>
      val j = proj(i)
      val dflt = defaults(i)
      if (j < 0) (_: InternalRow) => dflt
      else types(i) match {
        case LongType => row =>
          if (row.isNullAt(j)) dflt else java.lang.Long.valueOf(row.getLong(j))
        case IntegerType => row =>
          if (row.isNullAt(j)) dflt
          else java.lang.Integer.valueOf(row.getInt(j))
        case BooleanType => row =>
          if (row.isNullAt(j)) dflt
          else java.lang.Boolean.valueOf(row.getBoolean(j))
        case StringType => row =>
          if (row.isNullAt(j)) dflt else row.getUTF8String(j).toString
        case d: DecimalType => row =>
          if (row.isNullAt(j)) dflt
          else row.getDecimal(j, d.precision, d.scale).toJavaBigDecimal
        case other => throw new UnsupportedOperationException(
          s"graftmem: unsupported column type $other")
      }
    }

  /** Internal (Catalyst) value for a PartitionReader's output. */
  def toInternal(v: Any, dt: DataType): Any = dt match {
    case StringType     => UTF8String.fromString(v.asInstanceOf[String])
    case _: DecimalType => Decimal(v.asInstanceOf[java.math.BigDecimal])
    case _              => v // Long / Int / Boolean pass through
  }

  /** CREATE-time columns are LONG by contract (partition, layout and
    * MoR-key paths rely on it).
    */
  def asLong(v: Any): Long = v.asInstanceOf[java.lang.Number].longValue()

  /** Build the shared read-side projector: (aux, stored row) →
    * InternalRow of `required`, padding columns beyond a pre-ALTER
    * row's width with their defaults. `special` resolves metadata
    * columns (`_group`, `_pos`) — they receive (aux, row) where `aux`
    * is the caller's per-row long (the position for MoR, unused
    * elsewhere). `colMap` (b101) routes each schema column to its
    * PHYSICAL slot (null = identity, the pre-evolution fast path);
    * a slot in `colMap.widened` reads old narrow cells coerced up —
    * the coercion branch is taken ONLY for widened slots, so
    * never-widened tables pay nothing.
    */
  def projector(required: StructType, tableSchema: StructType,
      defaults: IndexedSeq[Any],
      special: Map[String, (Long, Array[Any]) => Any] = Map.empty,
      colMap: GraftColMap = null)
      : (Long, Array[Any]) => InternalRow = {
    val getters: Array[(Long, Array[Any]) => Any] =
      required.fields.map { f =>
        special.get(f.name) match {
          case Some(g) => g
          case None =>
            val i = tableSchema.fieldIndex(f.name)
            val j = if (colMap == null) i else colMap.phys(i)
            val dt = tableSchema.fields(i).dataType
            val dflt = toInternal(defaults(i), dt)
            // type-dispatch once per COLUMN, not per cell: the
            // pass-through family (Long/Int/Boolean) needs no
            // conversion at all
            dt match {
              case StringType =>
                (_: Long, r: Array[Any]) =>
                  if (j < r.length)
                    UTF8String.fromString(r(j).asInstanceOf[String])
                  else dflt
              case _: DecimalType =>
                (_: Long, r: Array[Any]) =>
                  if (j < r.length)
                    Decimal(r(j).asInstanceOf[java.math.BigDecimal])
                  else dflt
              case LongType
                  if colMap != null && colMap.widened.contains(j) =>
                // widened slot: rows stored before the widen hold the
                // narrow cell (Integer) — serve it as the long it
                // upcasts to, exactly (the b101 old-rows-read-back
                // contract)
                (_: Long, r: Array[Any]) =>
                  if (j < r.length) r(j) match {
                    case l: java.lang.Long => l
                    case n: java.lang.Number =>
                      java.lang.Long.valueOf(n.longValue())
                  }
                  else dflt
              case _ =>
                (_: Long, r: Array[Any]) =>
                  if (j < r.length) r(j) else dflt
            }
        }
      }
    (aux, r) => InternalRow.fromSeq(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        getters.map(_(aux, r))))
  }
}
