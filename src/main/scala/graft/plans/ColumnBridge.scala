package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column<->Expression conversions —
  * needed to expose custom Catalyst expressions (graft.plans.*) as
  * user-facing Columns on Spark 4, where Column wraps a ColumnNode
  * instead of an Expression. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** The raw ColumnNode tree of a Column (Spark 4's pre-analysis
    * representation) — what graft's data-skipping evaluator walks. */
  def node(c: Column): internal.ColumnNode = c.node
  /** `s` with every field nullable, nested fields included
    * (`StructType.asNullable` is private[spark]). */
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}

/** Bridge to build a DataFrame from a custom LogicalPlan node
  * (classic.Dataset.ofRows is private[sql]) — the entry point for
  * graft's planner-strategy operators (graft.plans.PackSequencesNode). */
object GraftPlanBridge {
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The files under `dir` that Spark's file sources list: paths with
    * a `.`- or `_`-prefixed segment (`_temporary`, `.spark-staging`;
    * `k=v` dirs and parquet summary files excepted) are skipped. */
  def listedFiles(spark: SparkSession,
                  dir: org.apache.hadoop.fs.Path): Seq[String] =
    org.apache.spark.util.HadoopFSUtils.listFiles(dir,
      spark.sessionState.newHadoopConf(), _ => true)
      .flatMap(_._2).map(_.getPath.toString)
}

/** Data-skipping predicate evaluator — lives in this package because
  * Spark 4's ColumnNode tree (the pre-analysis form of a Column) is
  * private[sql]. graft.sources.LakeWriter.readSnapshotWhere calls
  * `mayMatchColumn` per candidate file with that file's manifest
  * (min, max) stats. */
object GraftDataSkipping {

  /** Entry point for graft code: walk `predicate`'s node tree.
    * `nulls` carries per-column NULL counts and `rows` the file's row
    * count when the manifest recorded them (post-r8 commits) — they
    * unlock IS NULL / IS NOT NULL pruning and all-NULL-column
    * comparison pruning; absent, the evaluator stays min/max-only. */
  def mayMatchColumn(predicate: Column,
      stats: Map[String, (String, String)],
      types: Map[String, org.apache.spark.sql.types.DataType],
      nulls: Map[String, Long] = Map.empty,
      rows: Option[Long] = None): Boolean =
    mayMatch(predicate.node, stats, types, nulls, rows)

  /** Conservative "could any row of a file match" test of a predicate
    * against per-column (min, max) stats: TRUE unless the stats PROVE
    * emptiness. Handles comparisons/equality/IN between a column and
    * literals, composed with AND/OR, plus IS NULL / IS NOT NULL when
    * null counts are known; everything else (functions, NOT, stat-less
    * columns) degrades to a scan, never a wrong skip. NULL semantics
    * make this sound for the supported shapes: a comparison with a
    * NULL operand is not TRUE, min/max describe exactly the non-null
    * values, and nullCount==rowCount proves a column all-NULL (no
    * comparison can hold) while nullCount==0 proves IS NULL empty. */
  def mayMatch(
      e: internal.ColumnNode,
      stats: Map[String, (String, String)],
      types: Map[String, org.apache.spark.sql.types.DataType],
      nulls: Map[String, Long] = Map.empty,
      rows: Option[Long] = None): Boolean = {
    import org.apache.spark.sql.internal.{ColumnNode,
      UnresolvedAttribute => NodeAttr, UnresolvedFunction => NodeFn,
      Literal => NodeLit}
    def attr(x: ColumnNode): Option[String] = x match {
      case a: NodeAttr => Some(a.nameParts.mkString("."))
      case _ => None
    }
    def litVal(x: ColumnNode): Option[Any] = x match {
      case l: NodeLit =>
        if (l.value == null) None else Some(l.value)
      case _ => None
    }
    // a literal rendered into the STAT SPACE of column `c`: temporal
    // values become the integer epoch form the manifest stores
    // (micros / days — the same conversions Spark's own literal path
    // applies: fromJavaTimestamp/instantToMicros/fromJavaDate). The
    // conversion is TYPE-DIRECTED and refuses kind mismatches (a
    // String literal against a timestamp column would need the
    // session-timezone cast — no proof, scan; a LocalDateTime only
    // proves against an NTZ column, where zone-free epoch micros are
    // exactly Spark's semantics). None = no proof.
    def statLit(c: String, v: Any): Option[String] = {
      import org.apache.spark.sql.types._
      types.get(c).flatMap {
        case TimestampType => v match {
          case t: java.sql.Timestamp =>
            Some((t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L)
              .toString)
          case i: java.time.Instant =>
            Some((Math.multiplyExact(i.getEpochSecond, 1000000L) +
              i.getNano / 1000L).toString)
          case _ => None
        }
        case TimestampNTZType => v match {
          case d: java.time.LocalDateTime =>
            Some((Math.multiplyExact(
              d.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L) +
              d.getNano / 1000L).toString)
          case _ => None
        }
        case DateType => v match {
          case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
          case d: java.time.LocalDate => Some(d.toEpochDay.toString)
          case _ => None
        }
        case StringType => v match {
          case s: String => Some(s)
          case _ => None
        }
        case _: NumericType => v match {
          case n: java.lang.Number => Some(n.toString)
          case _ => None
        }
        case _ => None
      }
    }
    def cmpOpt(a: String, b: String, c: String): Option[Int] =
      types.get(c).flatMap(statCompare(a, b, _))
    // a file is skipped only when OUTSIDE is proven; c is the column,
    // v the literal, (lo, hi) its stats
    def provenOutside(op: String, c: String, v: String,
                      lo: String, hi: String): Boolean = op match {
      case "eq" => cmpOpt(v, lo, c).exists(_ < 0) ||
        cmpOpt(v, hi, c).exists(_ > 0)
      case "gt" => cmpOpt(hi, v, c).exists(_ <= 0)  // col > v
      case "ge" => cmpOpt(hi, v, c).exists(_ < 0)   // col >= v
      case "lt" => cmpOpt(lo, v, c).exists(_ >= 0)  // col < v
      case "le" => cmpOpt(lo, v, c).exists(_ > 0)   // col <= v
      case _ => false
    }
    // every value of column c in this file is NULL — no comparison,
    // equality, or IN can be TRUE against it (rows > 0 guard keeps
    // the claim meaningful; rows == 0 is handled below for the whole
    // predicate)
    def allNull(c: String): Boolean =
      rows.exists(r => r > 0L && nulls.get(c).contains(r))
    // normalize to (column-op-literal); literal-op-column flips the op
    def keep(op: String, flip: String, l: ColumnNode,
             r: ColumnNode): Boolean =
      (attr(l), litVal(r), attr(r), litVal(l)) match {
        case (Some(c), Some(raw), _, _) =>
          !allNull(c) &&
          !statLit(c, raw).exists(v => stats.get(c).exists {
            case (lo, hi) => provenOutside(op, c, v, lo, hi) })
        case (_, _, Some(c), Some(raw)) =>
          !allNull(c) &&
          !statLit(c, raw).exists(v => stats.get(c).exists {
            case (lo, hi) => provenOutside(flip, c, v, lo, hi) })
        case _ => true
      }
    // a zero-row file matches nothing, whatever the predicate
    if (rows.contains(0L)) return false
    e match {
      // Column operators build internal.UnresolvedFunction nodes with
      // SQL operator names ("=", "and", "in", ...) — matched by name
      case f: NodeFn => (f.functionName, f.arguments) match {
        case ("and", Seq(l, r)) =>
          mayMatch(l, stats, types, nulls, rows) &&
            mayMatch(r, stats, types, nulls, rows)
        case ("or", Seq(l, r)) =>
          mayMatch(l, stats, types, nulls, rows) ||
            mayMatch(r, stats, types, nulls, rows)
        case ("=" | "==", Seq(l, r)) => keep("eq", "eq", l, r)
        case (">", Seq(l, r)) => keep("gt", "lt", l, r)
        case (">=", Seq(l, r)) => keep("ge", "le", l, r)
        case ("<", Seq(l, r)) => keep("lt", "gt", l, r)
        case ("<=", Seq(l, r)) => keep("le", "ge", l, r)
        // Column.isNull / isNotNull build camelCase names; the SQL
        // registry spells them lowercase — accept both.
        // IS NULL can hold only where a NULL exists (nullCount > 0);
        // IS NOT NULL only where a non-NULL exists — proven either by
        // nullCount < rowCount or by the presence of min/max stats
        // (parquet records them over non-null values only).
        case ("isNull" | "isnull", Seq(a)) => attr(a) match {
          case Some(c) => !nulls.get(c).contains(0L)
          case None => true
        }
        case ("isNotNull" | "isnotnull", Seq(a)) => attr(a) match {
          case Some(c) => !allNull(c)
          case None => true
        }
        case ("in", a +: vs) if vs.nonEmpty => attr(a) match {
          case Some(c) =>
            !allNull(c) &&
            !stats.get(c).exists { case (lo, hi) =>
              val lits = vs.flatMap(litVal).flatMap(statLit(c, _))
              // skip only when EVERY element is a literal proven outside
              lits.size == vs.size &&
                lits.forall(v => provenOutside("eq", c, v, lo, hi))
            }
          case None => true
        }
        case _ => true
      }
      case _ => true
    }
  }

  /** The PROVEN order of two manifest stat values of a column of type
    * `dt`; None = no proof (an unparseable numeric such as NaN, or a
    * non-ASCII string — Java UTF-16 order can diverge from parquet's
    * UTF-8 byte order, so string proofs are ASCII-only). */
  def statCompare(a: String, b: String,
                  dt: org.apache.spark.sql.types.DataType): Option[Int] =
    dt match {
      case org.apache.spark.sql.types.StringType =>
        if (a.forall(_ < 128) && b.forall(_ < 128)) Some(a.compareTo(b))
        else None
      case _ =>
        try Some(BigDecimal(a).compare(BigDecimal(b)))
        catch { case _: NumberFormatException => None }
    }

  /** The top-level AND-conjuncts of `predicate` that are pure
    * equality tests against literals — `col = lit` (either side) or
    * `col IN (lits…)` — as (column, literals) pairs. The BLOOM
    * skipping hook: a file is provably empty for the whole predicate
    * when ANY such conjunct's literals are all bloom-absent. OR
    * branches and every other shape are ignored (never a wrong
    * skip). */
  def equalityConjuncts(predicate: Column): Seq[(String, Seq[Any])] = {
    import org.apache.spark.sql.internal.{ColumnNode,
      UnresolvedAttribute => NodeAttr, UnresolvedFunction => NodeFn,
      Literal => NodeLit}
    def attr(x: ColumnNode): Option[String] = x match {
      case a: NodeAttr => Some(a.nameParts.mkString("."))
      case _ => None
    }
    def litVal(x: ColumnNode): Option[Any] = x match {
      case l: NodeLit => Option(l.value)
      case _ => None
    }
    def walk(e: ColumnNode): Seq[(String, Seq[Any])] = e match {
      case f: NodeFn => (f.functionName, f.arguments) match {
        case ("and", Seq(l, r)) => walk(l) ++ walk(r)
        case ("=" | "==", Seq(l, r)) =>
          (attr(l), litVal(r), attr(r), litVal(l)) match {
            case (Some(c), Some(v), _, _) => Seq(c -> Seq(v))
            case (_, _, Some(c), Some(v)) => Seq(c -> Seq(v))
            case _ => Seq.empty
          }
        case ("in", a +: vs) if vs.nonEmpty =>
          attr(a) match {
            case Some(c) =>
              val lits = vs.flatMap(litVal)
              if (lits.size == vs.size) Seq(c -> lits) else Seq.empty
            case None => Seq.empty
          }
        case _ => Seq.empty
      }
      case _ => Seq.empty
    }
    walk(predicate.node)
  }

  /** xxhash64 (seed 42 — the seed `functions.xxhash64` uses, and so
    * the seed every bloom built over `xxhash64(col)` was fed) of a
    * literal COERCED to the column's type, evaluated driver-side.
    * None = the literal doesn't coerce losslessly, so no bloom proof
    * is possible (scan). */
  def xxhash64Literal(dt: org.apache.spark.sql.types.DataType,
                      v: Any): Option[Long] = {
    import org.apache.spark.sql.types._
    val coerced: Option[Any] = dt match {
      case LongType => v match {
        case n: java.lang.Number if n.longValue() == n.doubleValue() ||
          n.isInstanceOf[java.lang.Long] || n.isInstanceOf[Integer] =>
          Some(n.longValue())
        case _ => None
      }
      case IntegerType => v match {
        case n: java.lang.Number if n.longValue() >= Int.MinValue &&
          n.longValue() <= Int.MaxValue => Some(n.intValue())
        case _ => None
      }
      case StringType => v match {
        case s: String => Some(s)
        case _ => None
      }
      case _ => None
    }
    coerced.map { c =>
      val lit = catalyst.expressions.Literal.create(c, dt)
      catalyst.expressions.XxHash64(Seq(lit), 42L)
        .eval(catalyst.InternalRow.empty).asInstanceOf[Long]
    }
  }
}
