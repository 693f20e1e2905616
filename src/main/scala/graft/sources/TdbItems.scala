package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's item codec — a (field, value-id) pair packed into one
  * u64 — as pure Spark column expressions, plus the lexicon join that
  * translates value ids to strings (the value↔item API surface,
  * reference `src/tdb_types.h:68-99` / `src/tdb.c:488-542`).
  *
  * Under the native Parquet layout items never exist (Parquet dictionary
  * encoding plays their role), but the LEGACY format traffics in them:
  * users migrating from the reference hold item-valued u64s in logs and
  * downstream tables. This module lets those decode corpus-side, with
  * whole-stage codegen (every function composes Spark built-ins — no
  * UDF).
  *
  * Packing rules replicated bit-for-bit (`tdb_make_item`,
  * `src/tdb_types.h:88-99`): the 32-bit form `field | (val << 8)` when
  * field ≤ 127 and val ≤ 2^24−1, else the 64-bit form
  * `(field & 127) | 128 | ((field >> 7) << 8) | (val << 16)` — bit 7
  * flags the wide form; field < 2^14, val < 2^40
  * (`src/tdb_limits.h:24-37`). Value id 0 is the reference's NULL/empty
  * convention throughout.
  */
object TdbItems {
  import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, CaseWhen, Cast, EqualTo, Expression, GreaterThan, Literal, Or, ShiftLeft, ShiftRight}
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.apache.spark.sql.types.LongType

  private val Val32Max = (1L << 24) - 1
  private def l(v: Long) = Literal(v)

  // The codec is built directly in Catalyst terms (the Column API below
  // and the SQL registration in [[graft.GraftExtensions]] share these
  // builders — a Column→Expression round trip through the bridge leaves
  // unevaluable column-node wrappers on the SQL path).

  /** `tdb_make_item(field, val)` as a Catalyst expression tree. */
  def makeItemExpr(field: Expression, valId: Expression): Expression = {
    val f = Cast(field, LongType)
    val v = Cast(valId, LongType)
    CaseWhen(
      Seq((Or(GreaterThan(f, l(127L)), GreaterThan(v, l(Val32Max))),
        BitwiseOr(BitwiseOr(BitwiseOr(BitwiseAnd(f, l(127L)), l(128L)),
          ShiftLeft(ShiftRight(f, Literal(7)), Literal(8))),
          ShiftLeft(v, Literal(16))))),
      Some(BitwiseOr(f, ShiftLeft(v, Literal(8)))))
  }

  /** `tdb_item_field(item)` as a Catalyst expression tree. */
  def itemFieldExpr(item: Expression): Expression = {
    val i = Cast(item, LongType)
    CaseWhen(
      Seq((EqualTo(BitwiseAnd(i, l(128L)), l(0L)), BitwiseAnd(i, l(127L)))),
      Some(BitwiseOr(BitwiseAnd(i, l(127L)),
        ShiftLeft(BitwiseAnd(ShiftRight(i, Literal(8)), l(127L)), Literal(7)))))
  }

  /** `tdb_item_val(item)` as a Catalyst expression tree (the 32-bit arm
    * masks a full 32 bits, exactly like the reference macro). */
  def itemValExpr(item: Expression): Expression = {
    val i = Cast(item, LongType)
    CaseWhen(
      Seq((EqualTo(BitwiseAnd(i, l(128L)), l(0L)),
        BitwiseAnd(ShiftRight(i, Literal(8)), l(0xffffffffL)))),
      Some(ShiftRight(i, Literal(16))))
  }

  /** `tdb_make_item(field, val)` over columns (both cast to long). */
  def makeItem(field: Column, valId: Column): Column =
    ColumnBridge.column(makeItemExpr(
      ColumnBridge.expression(field), ColumnBridge.expression(valId)))

  /** `tdb_item_field(item)`: the field id, either width. */
  def itemField(item: Column): Column =
    ColumnBridge.column(itemFieldExpr(ColumnBridge.expression(item)))

  /** `tdb_item_val(item)`: the value id, either width. */
  def itemVal(item: Column): Column =
    ColumnBridge.column(itemValExpr(ColumnBridge.expression(item)))

  /** One field's lexicon of a LEGACY db as a DataFrame of
    * (val_id, value) — val_id 1..size in the db's own id order; id 0
    * (NULL) is not a row, matching `tdb_get_item_value`'s NULL return.
    * Item→string is then a join on `itemVal(item)`; string→item the
    * reverse join + [[makeItem]] — both broadcastable (a lexicon is
    * vocabulary-sized) and engine-replayable. */
  def lexiconDf(spark: SparkSession, path: String,
      fieldName: String): DataFrame = {
    import spark.implicits._
    val meta = TdbFormat.TdbMeta.open(path)
    val idx = meta.fieldNames.indexOf(fieldName)
    require(idx >= 0,
      s"tdb: unknown field '$fieldName' (have ${meta.fieldNames.mkString(", ")})")
    // field 0 is the implicit time field; lexicons are 1-indexed
    val lex = meta.lexicon(idx + 1)
    (0 until lex.size).map(i => (i + 1L, lex(i).toString))
      .toDF("val_id", "value")
  }
}
