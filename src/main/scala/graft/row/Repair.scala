package graft.row

import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.{JBool, JDouble, JInt, JLong, JString, JValue}

/** Schema-driven data REPAIR — the write-side complement of
  * [[RowValidator.violations]]: instead of only reporting which keyword a
  * row breaks, rewrite the row into compliance where a repair is
  * well-defined, and report exactly how many values each column needed.
  * The reference is read-only (it has `default` application but no repair);
  * this generalizes the same keyword IR into Spark transformations — the
  * "quarantine vs fix" decision every 10^12-row ingest faces, run as a
  * zero-shuffle codegen'd projection.
  *
  * Policy (only repairs with one canonical answer; everything else is left
  * for violations() to surface):
  *  1. `default` application at every depth ([[RowValidator.applyDefaults]]);
  *  2. numeric `minimum`/`maximum` → clamp into the closed range;
  *  3. string `maxLength` → truncate to the first n code points;
  *  4. array `maxItems` → truncate; integer `items` bounds → per-element
  *     clamp (for the canonical `[0, vocab)` token case, the codegen'd
  *     [[graft.tokens.TokenSeqs.sanitize]] is the equivalent hot path);
  *  5. `enum` over strings → non-members become the property's `default`,
  *     else null (quarantine-by-null).
  * NOT repaired (no canonical fix): `pattern`, `required` without a
  * default, `minItems`/`minLength`, exclusive bounds, `multipleOf`,
  * cross-property applicators. Nulls are never invented into values:
  * a null input stays null through clamp/truncate.
  *
  * Returns `(repaired, report)`; the report — `(column, n_repaired)`, one
  * row per top-level property — is computed in the SAME single pass
  * (sum of value-changed flags), so repair + audit costs one scan. */
object Repair {
  /** Column reference by literal name — backtick-quoted so names containing
    * dots (common in JSON-derived frames) resolve as top-level columns, not
    * nested-field paths. */
  private def qcol(name: String): Column =
    org.apache.spark.sql.functions.col("`" + name.replace("`", "``") + "`")


  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  /** A numeric bound as the TIGHTEST in-type literal: casting a fractional
    * bound to an integral column truncates toward zero, which can clamp a
    * value ONTO a number that still violates the bound (minimum 5.7 →
    * cast 5 < 5.7) — minima round up, maxima round down. The rounded bound
    * is then clamped to the type's range (a cast would wrap: `minimum: 300`
    * on a byte column is 44); None when no in-type value satisfies it, so
    * the rule is skipped and violations() reports the row instead. */
  private def boundLit(v: Double, dt: DataType, isMin: Boolean): Option[Column] = {
    val range = dt match {
      case ByteType => Some((Byte.MinValue.toLong, Byte.MaxValue.toLong))
      case ShortType => Some((Short.MinValue.toLong, Short.MaxValue.toLong))
      case IntegerType => Some((Int.MinValue.toLong, Int.MaxValue.toLong))
      case LongType => Some((Long.MinValue, Long.MaxValue))
      case _ => None
    }
    range match {
      case None => Some(lit(v).cast(dt))
      case Some((lo, hi)) =>
        val b = if (isMin) math.ceil(v) else math.floor(v)
        // exact compare: Long.MaxValue.toDouble rounds up to 2^63
        def cmp(x: Long): Int =
          if (b.isInfinite) b.sign.toInt else BigDecimal.exact(b).compare(BigDecimal(x))
        if (if (isMin) cmp(hi) > 0 else cmp(lo) < 0) None
        else Some(lit(if (cmp(lo) <= 0) lo else if (cmp(hi) >= 0) hi else b.toLong).cast(dt))
    }
  }

  /** The repair expression for one property, or None when no repair rule
    * applies to this (schema, type) pair. */
  private def repairCol(kws: Vector[Keyword], c: Column, dt: DataType): Option[Column] = {
    var cur = c
    var touched = false

    // numeric clamp
    if (isNumeric(dt)) {
      val lo = kws.collectFirst { case MinimumK(v) => v }.flatMap(boundLit(_, dt, isMin = true))
      val hi = kws.collectFirst { case MaximumK(v) => v }.flatMap(boundLit(_, dt, isMin = false))
      if (lo.isDefined || hi.isDefined) {
        var x = cur
        lo.foreach(b => x = greatest(x, b))
        hi.foreach(b => x = least(x, b))
        cur = when(cur.isNull, cur).otherwise(x)
        touched = true
      }
    }

    // string truncation
    if (dt == StringType) {
      kws.collectFirst { case MaxLengthK(n) => n }.foreach { n =>
        cur = when(cur.isNull, cur)
          .otherwise(when(length(cur) > n, substring(cur, 1, n.toInt)).otherwise(cur))
        touched = true
      }
      // enum membership over string values
      kws.collectFirst { case EnumK(vs) => vs }.foreach { vs =>
        val members = vs.collect { case JString(s) => s }
        if (members.nonEmpty && members.size == vs.size) {
          // the default is only a usable substitute when it is itself an
          // enum member — a schema with an inconsistent default would
          // otherwise have the repair write a value that STILL violates
          // the enum, breaking the repaired-rows-are-clean contract; fall
          // back to the null quarantine instead
          val fallback = kws.collectFirst { case DefaultK(JString(d)) => d }
            .filter(members.contains)
            .map(d => lit(d).cast(dt)).getOrElse(lit(null).cast(dt))
          cur = when(cur.isNull || cur.isin(members: _*), cur).otherwise(fallback)
          touched = true
        }
      }
    }

    // array truncation + integer element clamp
    dt match {
      case ArrayType(et, _) =>
        kws.collectFirst { case MaxItemsK(n) => n }.foreach { n =>
          cur = when(cur.isNull, cur)
            .otherwise(when(size(cur) > n, slice(cur, 1, n.toInt)).otherwise(cur))
          touched = true
        }
        kws.collectFirst { case ItemsK(ObjSchema(ik)) => ik }.foreach { ik =>
          if (isNumeric(et)) {
            val lo = ik.collectFirst { case MinimumK(v) => v }.flatMap(boundLit(_, et, isMin = true))
            val hi = ik.collectFirst { case MaximumK(v) => v }.flatMap(boundLit(_, et, isMin = false))
            if (lo.isDefined || hi.isDefined) {
              cur = when(cur.isNull, cur).otherwise(transform(cur, x => {
                var y = x
                lo.foreach(b => y = greatest(y, b))
                hi.foreach(b => y = least(y, b))
                when(x.isNull, x).otherwise(y)
              }))
              touched = true
            }
          }
        }
      case _ =>
    }

    if (touched) Some(cur) else None
  }

  /** Repair `df` against `doc`'s top-level properties. */
  def repair(df: DataFrame, doc: SchemaDoc): (DataFrame, DataFrame) = {
    val defaulted = RowValidator.applyDefaults(df, doc)
    val rules: Seq[(String, Column)] = doc.root match {
      case ObjSchema(kws) =>
        kws.collectFirst { case PropertiesK(ps) => ps }.getOrElse(Vector.empty)
          .collect { case (name, ObjSchema(pk)) if defaulted.columns.contains(name) =>
            repairCol(pk, qcol(name), defaulted.schema(name).dataType)
              .map(name -> _)
          }.flatten
      case _ => Seq.empty
    }
    val repaired = rules.foldLeft(defaulted) { case (acc, (name, expr)) =>
      acc.withColumn(name, expr)
    }
    // audit in the same pass: a value counts as repaired when old <=> new is
    // false ON THE DEFAULTED FRAME (defaults themselves are opted into via
    // applyDefaults, not counted as repairs)
    val flags = rules.map { case (name, expr) =>
      sum(when(!(qcol(name) <=> expr), 1L).otherwise(0L)).as(name)
    }
    val report =
      if (flags.isEmpty)
        df.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("column", StringType, nullable = false),
            StructField("n_repaired", LongType, nullable = true))))
      else defaulted.agg(flags.head, flags.tail: _*)
        .select(explode(array(rules.map { case (name, _) =>
          struct(lit(name).as("column"), qcol(name).as("n_repaired")) }: _*)).as("r"))
        .select(col("r.column").as("column"), col("r.n_repaired").as("n_repaired"))
    (repaired, report)
  }
}
