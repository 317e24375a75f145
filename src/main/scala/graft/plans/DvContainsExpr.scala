package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `row_index ∈ deletion-vector` membership — the scan-side filter of
  * [[graft.sources.DeltaMirror.readDelta]] on DV-carrying Delta
  * tables: rows whose `_metadata.row_index` the file's deletion
  * vector marks are logically deleted and must not be served.
  *
  * Why native (and why the file-key argument): the serialized bitmap
  * arrives as a per-file BINARY `_metadata` constant of the slice
  * scan ([[graft.sources.FileScan]]), so a naive expression would
  * deserialize the bitmap PER ROW — O(bitmap) work per row. Rows of
  * one parquet file arrive consecutively within a scan partition, so
  * a one-entry cache keyed by the (short) file path makes the parse
  * amortized-once per file per task: the per-row cost is a string
  * equality on the key plus two binary searches in the parsed bitmap,
  * zero allocation. The cache is per-task by construction — codegen
  * holds it in generated-class mutable state, the interpreted path in
  * a ThreadLocal — so concurrent tasks never share parser state.
  *
  * Null contract: a null bitmap means "file has no DV" and a null row
  * index never occurs on a real scan; both return null per
  * TernaryExpression's null-intolerant default, and the caller wraps
  * the filter in a null-safe coalesce.
  */
case class DvContains(key: Expression, dv: Expression, idx: Expression)
    extends TernaryExpression {

  override def first: Expression = key
  override def second: Expression = dv
  override def third: Expression = idx

  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == StringType && dv.dataType == BinaryType &&
        idx.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (string, binary, bigint), got " +
        s"(${key.dataType.catalogString}, ${dv.dataType.catalogString}, " +
        s"${idx.dataType.catalogString})")

  override def nullSafeEval(k: Any, d: Any, i: Any): Any =
    DvContains.test(DvContains.threadCache.get(),
      k.asInstanceOf[UTF8String], d.asInstanceOf[Array[Byte]],
      i.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // DvCache is a TOP-LEVEL class: generated Java must name it
    // without Scala's object-nesting $ mangling
    val cache = ctx.addMutableState("graft.plans.DvCache", "dvCache",
      v => s"$v = new graft.plans.DvCache();")
    nullSafeCodeGen(ctx, ev, (k, d, i) =>
      s"${ev.value} = graft.plans.DvContains.test($cache, $k, $d, $i);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(key = newFirst, dv = newSecond, idx = newThird)
}

/** One-entry DV parse cache: the last cache key seen and its parsed
  * bitmap. Top-level (not nested in the companion object) so the
  * generated Java can instantiate it by its plain name.
  *
  * The cache KEY must identify the DV GENERATION, not just the file:
  * the caller passes `file + <NUL, U+0000> + dvUniqueId` (readDelta's
  * `__graft_dvkey`), because the interpreted path's ThreadLocal
  * outlives a query on a pooled executor thread — keying on the file
  * path alone would let a second read of the same file at another
  * VERSION (a different DV generation) silently reuse the first
  * version's parse. A byte-compare of the dv value can't replace
  * this: row accessors copy BinaryType per row, so any per-row
  * reference/content check either busts the cache every row or costs
  * O(bitmap) per row. */
final class DvCache {
  var key: UTF8String = _
  var bitmap: graft.sources.DeletionVectors.RoaringArray = _
}

object DvContains {
  private[plans] val threadCache: ThreadLocal[DvCache] =
    ThreadLocal.withInitial(() => new DvCache)

  /** Runtime kernel shared by interpreted and generated paths. */
  def test(cache: DvCache, key: UTF8String, dv: Array[Byte],
           idx: Long): Boolean = {
    if (cache.key == null || !cache.key.equals(key)) {
      cache.bitmap = graft.sources.DeletionVectors.RoaringArray.deserialize(dv)
      cache.key = key.clone()
    }
    cache.bitmap.contains(idx)
  }
}
