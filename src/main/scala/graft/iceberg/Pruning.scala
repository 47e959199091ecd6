package graft.iceberg

import graft.iceberg.Manifests.{DataFileInfo, ManifestFile}
import graft.iceberg.Transforms.Transform

/** Statistics-based file and manifest pruning.
  *
  * Re-implements the reference's `apply_filters` (`ice.py:286-364`) as a sound
  * "might-match" evaluation over three evidence tiers:
  *   1. manifest partition-field summaries (skip whole manifests, ice.py:168-182)
  *   2. data-file partition values (min = max = value, ice.py:316-318)
  *   3. data-file column lower/upper bounds by field id (ice.py:319-332)
  *
  * Differences from the reference (deliberate — soundness fixes, see SURVEY §2A
  * #10/#12):
  *   - range predicates are NOT rewritten through non-order-preserving
  *     transforms (bucket): the reference transforms literals for all ops,
  *     which can wrongly prune (`ice.py:295-300`);
  *   - missing stats or incomparable values keep the file instead of raising;
  *   - IS NULL / IS NOT NULL use null_value_counts (reference reads them but
  *     never uses them, README.md:95-96).
  */
object Pruning {

  /** Predicate algebra — mirrors the reference's parquet-style DNF tuples
    * (`ice.py:356-363`) but as a proper tree; `fromDnf` builds the tuple form. */
  sealed trait IcePredicate
  final case class Eq(col: String, value: Any) extends IcePredicate
  final case class NotEq(col: String, value: Any) extends IcePredicate
  final case class Lt(col: String, value: Any) extends IcePredicate
  final case class LtEq(col: String, value: Any) extends IcePredicate
  final case class Gt(col: String, value: Any) extends IcePredicate
  final case class GtEq(col: String, value: Any) extends IcePredicate
  final case class In(col: String, values: Seq[Any]) extends IcePredicate
  final case class IsNull(col: String) extends IcePredicate
  final case class NotNull(col: String) extends IcePredicate
  final case class And(left: IcePredicate, right: IcePredicate) extends IcePredicate
  final case class Or(left: IcePredicate, right: IcePredicate) extends IcePredicate
  case object AlwaysTrue extends IcePredicate

  /** Parquet/dask-style DNF: a list of (col, op, value) is an AND; a list of
    * such lists is an OR of ANDs (`ice.py:356`, reference docstring). */
  def fromDnf(conjunctions: Seq[Seq[(String, String, Any)]]): IcePredicate =
    conjunctions.map { conj =>
      conj.map { case (c, op, v) => fromOp(c, op, v) }
        .reduceOption(And.apply).getOrElse(AlwaysTrue)
    }.reduceOption(Or.apply).getOrElse(AlwaysTrue)

  def fromOp(col: String, op: String, value: Any): IcePredicate = op match {
    case "==" | "=" => Eq(col, value)
    case "!=" => NotEq(col, value)
    case "<" => Lt(col, value)
    case "<=" => LtEq(col, value)
    case ">" => Gt(col, value)
    case ">=" => GtEq(col, value)
    case "in" => value match {
      case vs: Seq[_] => In(col, vs)
      case vs: Set[_] => In(col, vs.toSeq)
      case vs: Array[_] => In(col, vs.toSeq)
      case _ => throw new IllegalArgumentException(
        "Value of 'in' filter must be a list, set, or tuple.") // ice.py:292-293 parity
    }
    case other => throw new IllegalArgumentException(s"unknown filter op: $other")
  }

  /** Schema info the evaluator needs per referenced column. */
  final case class FieldInfo(id: Int, name: String, icebergType: String)

  final case class Context(
      fieldsByName: Map[String, FieldInfo],
      spec: PartitionSpec) {
    /** Partition field whose *source* is the given schema field, if any. */
    def partitionFieldFor(fieldId: Int): Option[PartitionField] =
      spec.fields.find(_.sourceId == fieldId)
  }

  // ------------------------------------------------------------ file tier

  /** Might `file` contain rows matching `pred`? Sound: errs towards true. */
  def fileMightMatch(pred: IcePredicate, file: DataFileInfo, ctx: Context): Boolean =
    pred match {
      case AlwaysTrue => true
      case And(l, r) => fileMightMatch(l, file, ctx) && fileMightMatch(r, file, ctx)
      case Or(l, r) => fileMightMatch(l, file, ctx) || fileMightMatch(r, file, ctx)
      case IsNull(c) =>
        fieldOf(c, ctx) match {
          case Some(f) => file.nullValueCounts.get(f.id).forall(_ > 0L)
          case None => true
        }
      case NotNull(c) =>
        fieldOf(c, ctx) match {
          case Some(f) =>
            (file.nullValueCounts.get(f.id), file.valueCounts.get(f.id)) match {
              case (Some(nulls), Some(total)) => nulls < total
              case _ => true
            }
          case None => true
        }
      case other =>
        val (c, _, _) = colOpValue(other)
        fieldOf(c, ctx) match {
          case None => true // unknown column: cannot prune
          case Some(f) if nanSensitive(other, f.icebergType) &&
              !file.nanValueCounts.get(f.id).contains(0L) =>
            // NaN guard: NaN compares GREATER than everything in Spark/
            // Iceberg sort semantics while parquet bounds exclude NaN rows,
            // so Gt/GtEq/NotEq (or a NaN literal) can be satisfied by rows
            // the bounds don't describe. Prune only with recorded evidence
            // of zero NaNs; unknown → keep (sound).
            true
          case Some(f) =>
            // evidence 1: derived (hidden) partition value — rewrite the
            // predicate through the transform (ice.py:295-300, made sound)
            val derivedOk = ctx.partitionFieldFor(f.id)
              .filterNot(_.transform == "identity")
              .forall { pf =>
                file.partition.get(pf.name).filter(_ != null) match {
                  case Some(pv) =>
                    // unknown transform (v3 multi-arg etc.): keep — sound
                    Transforms.parseOption(pf.transform).forall { transform =>
                      val boundType = transform.resultType(f.icebergType)
                      transformedRangeMightMatch(other, pv, pv,
                        f.icebergType, boundType, transform)
                    }
                  case None => true
                }
              }
            // evidence 2: identity partition value or column bounds
            derivedOk && (bounds(file, f, ctx) match {
              case None => true
              case Some((min, max, tpe)) => rangeMightMatch(other, min, max, tpe, ctx, f)
            })
        }
    }

  /** (min, max, effective iceberg type) for the predicate column — partition
    * value if the column is identity-partitioned, else file column bounds. */
  private def bounds(file: DataFileInfo, f: FieldInfo, ctx: Context): Option[(Any, Any, String)] = {
    val identityPart = ctx.partitionFieldFor(f.id).filter(_.transform == "identity")
    identityPart.flatMap(pf => file.partition.get(pf.name)) match {
      case Some(v) if v != null => Some((v, v, f.icebergType))
      case _ =>
        for {
          lo <- file.lowerBounds.get(f.id)
          hi <- file.upperBounds.get(f.id)
        } yield (IcebergTypes.decodeBound(lo, f.icebergType),
          IcebergTypes.decodeBound(hi, f.icebergType), f.icebergType)
    }
  }

  // -------------------------------------------------------- manifest tier

  /** Might any file in `manifest` match? Uses per-partition-field summaries
    * only (no manifest load needed) — the reference's ice.py:168-182. */
  def manifestMightMatch(pred: IcePredicate, manifest: ManifestFile, ctx: Context): Boolean =
    pred match {
      case AlwaysTrue => true
      case And(l, r) => manifestMightMatch(l, manifest, ctx) && manifestMightMatch(r, manifest, ctx)
      case Or(l, r) => manifestMightMatch(l, manifest, ctx) || manifestMightMatch(r, manifest, ctx)
      case IsNull(c) =>
        summaryFor(c, manifest, ctx).forall(_._1.containsNull)
      case NotNull(_) => true // summary has no "all null" evidence
      case other =>
        val (c, _, _) = colOpValue(other)
        summaryFor(c, manifest, ctx) match {
          case None => true
          case Some((summary, pf)) =>
            val srcType = ctx.fieldsByName.values.find(_.id == pf.sourceId)
              .map(_.icebergType).getOrElse(return true)
            // NaN guard, summary tier: float/double partition summaries may
            // exclude NaN; prune only when contains_nan is known false
            if (nanSensitive(other, srcType) && !summary.containsNan.contains(false))
              return true
            // unknown transform (v3 multi-arg etc.): keep the manifest — sound
            val transform = Transforms.parseOption(pf.transform).getOrElse(return true)
            val boundType = transform.resultType(srcType)
            (summary.lowerBound, summary.upperBound) match {
              case (Some(lo), Some(hi)) =>
                val min = IcebergTypes.decodeBound(lo, boundType)
                val max = IcebergTypes.decodeBound(hi, boundType)
                transformedRangeMightMatch(other, min, max, srcType, boundType, transform)
              case _ => true
            }
        }
    }

  /** Find the manifest partition summary (zipped with its spec field) whose
    * partition field derives from predicate column `c` (ice.py:173-177). */
  private def summaryFor(c: String, manifest: ManifestFile, ctx: Context)
      : Option[(Manifests.PartitionFieldSummary, PartitionField)] =
    ctx.fieldsByName.get(c).flatMap { f =>
      val idx = ctx.spec.fields.indexWhere(_.sourceId == f.id)
      if (idx < 0 || idx >= manifest.partitions.size) None
      else Some((manifest.partitions(idx), ctx.spec.fields(idx)))
    }

  // ---------------------------------------------------------- range logic

  private def colOpValue(p: IcePredicate): (String, String, Any) = p match {
    case Eq(c, v) => (c, "=", v)
    case NotEq(c, v) => (c, "!=", v)
    case Lt(c, v) => (c, "<", v)
    case LtEq(c, v) => (c, "<=", v)
    case Gt(c, v) => (c, ">", v)
    case GtEq(c, v) => (c, ">=", v)
    case In(c, vs) => (c, "in", vs)
    case other => throw new IllegalStateException(s"not a comparison: $other")
  }

  private def fieldOf(c: String, ctx: Context): Option[FieldInfo] = ctx.fieldsByName.get(c)

  private def isNanValue(v: Any): Boolean = v match {
    case d: Double => d.isNaN
    case f: Float => f.isNaN
    case _ => false
  }

  /** Could NaN rows (invisible to min/max bounds) satisfy this predicate?
    * Spark and Iceberg both order NaN after every other value, so `>`, `>=`
    * and `!=` match NaN rows regardless of bounds; `<`, `<=` and non-NaN
    * equality never do. */
  private[iceberg] def nanSensitive(p: IcePredicate, icebergType: String): Boolean =
    (icebergType == "float" || icebergType == "double") && (p match {
      case Gt(_, _) | GtEq(_, _) => true
      case NotEq(_, v) => !isNanValue(v) // NaN != v is true unless v is NaN (NaN equals itself in Spark)
      case Eq(_, v) => isNanValue(v)
      case In(_, vs) => vs.exists(isNanValue)
      case _ => false
    })

  /** Range check of a comparison predicate against [min, max] in the SOURCE
    * column domain (file tier). */
  private def rangeMightMatch(p: IcePredicate, min: Any, max: Any, tpe: String,
      ctx: Context, f: FieldInfo): Boolean = {
    val norm: Any => Any = IcebergTypes.normalizeLiteral(_, tpe)
    import IcebergTypes.compare
    p match {
      case Eq(_, v0) =>
        val v = norm(v0)
        cmpGe(compare(v, min)) && cmpLe(compare(v, max))
      case NotEq(_, v0) =>
        val v = norm(v0)
        // only prunable when the whole file is exactly this value
        !(compare(min, v).contains(0) && compare(max, v).contains(0))
      case Lt(_, v0) => cmpLt(compare(min, norm(v0)))
      case LtEq(_, v0) => cmpLe(compare(min, norm(v0)))
      case Gt(_, v0) => cmpGt(compare(max, norm(v0)))
      case GtEq(_, v0) => cmpGe(compare(max, norm(v0)))
      case In(_, vs) => vs.exists { v0 =>
        val v = norm(v0)
        cmpGe(compare(v, min)) && cmpLe(compare(v, max))
      }
      case _ => true
    }
  }

  /** Range check where [min, max] live in TRANSFORM space (manifest summaries
    * over derived partition values). Eq/In literals are pushed through any
    * transform; range ops only through order-preserving ones. */
  private def transformedRangeMightMatch(p: IcePredicate, min: Any, max: Any,
      srcType: String, boundType: String, transform: Transform): Boolean = {
    import IcebergTypes.compare
    def tr(v0: Any): Option[Any] =
      transform(IcebergTypes.normalizeLiteral(v0, srcType), srcType)
    p match {
      case Eq(_, v0) => tr(v0) match {
        case Some(v) if v != null => cmpGe(compare(v, min)) && cmpLe(compare(v, max))
        case _ => true
      }
      case In(_, vs) => vs.exists { v0 =>
        tr(v0) match {
          case Some(v) if v != null => cmpGe(compare(v, min)) && cmpLe(compare(v, max))
          case _ => true
        }
      }
      case NotEq(_, v0) if transform.lossless(srcType) => tr(v0) match {
        case Some(v) if v != null =>
          !(compare(min, v).contains(0) && compare(max, v).contains(0))
        case _ => true
      }
      case NotEq(_, _) => true // a transform bucket can hold many source values
      case Lt(_, v0) if transform.preservesOrder => tr(v0) match {
        // lossless: v < X ⇔ t(v) < t(X) (strict). Lossy order-preserving
        // (day on timestamp, truncate): v < X ⇒ t(v) <= t(X), so prune only
        // when min > t(X).
        case Some(v) if v != null =>
          if (transform.lossless(srcType)) cmpLt(compare(min, v))
          else cmpLe(compare(min, v))
        case _ => true
      }
      case LtEq(_, v0) if transform.preservesOrder => tr(v0) match {
        case Some(v) if v != null => cmpLe(compare(min, v))
        case _ => true
      }
      case Gt(_, v0) if transform.preservesOrder => tr(v0) match {
        case Some(v) if v != null =>
          if (transform.lossless(srcType)) cmpGt(compare(max, v))
          else cmpGe(compare(max, v))
        case _ => true
      }
      case GtEq(_, v0) if transform.preservesOrder => tr(v0) match {
        case Some(v) if v != null => cmpGe(compare(max, v))
        case _ => true
      }
      case _ => true
    }
  }

  private def cmpLt(c: Option[Int]): Boolean = c.forall(_ < 0)
  private def cmpLe(c: Option[Int]): Boolean = c.forall(_ <= 0)
  private def cmpGt(c: Option[Int]): Boolean = c.forall(_ > 0)
  private def cmpGe(c: Option[Int]): Boolean = c.forall(_ >= 0)

  /** Logical negation of a predicate (for must-match-all-rows tests:
    * a file matches `p` entirely iff it cannot match `negate(p)`). */
  def negate(p: IcePredicate): IcePredicate = p match {
    case Eq(c, v) => NotEq(c, v)
    case NotEq(c, v) => Eq(c, v)
    case Lt(c, v) => GtEq(c, v)
    case LtEq(c, v) => Gt(c, v)
    case Gt(c, v) => LtEq(c, v)
    case GtEq(c, v) => Lt(c, v)
    case IsNull(c) => NotNull(c)
    case NotNull(c) => IsNull(c)
    case And(l, r) => Or(negate(l), negate(r))
    case Or(l, r) => And(negate(l), negate(r))
    case In(c, vs) => allOf(vs.map(v => NotEq(c, v): IcePredicate).toIndexedSeq)
    case AlwaysTrue => throw new IllegalArgumentException("cannot negate TRUE")
  }

  /** `ps` joined by And as a BALANCED tree: the recursive evaluators then
    * walk it log2(n) deep, where a left-deep chain one link per value of a
    * large IN overflows the stack. */
  private def allOf(ps: IndexedSeq[IcePredicate]): IcePredicate =
    if (ps.isEmpty) AlwaysTrue
    else if (ps.size == 1) ps.head
    else And(allOf(ps.take(ps.size / 2)), allOf(ps.drop(ps.size / 2)))

  /** IcePredicate → Spark Column for exact row-level filtering. */
  def toColumn(p: IcePredicate): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    p match {
      case AlwaysTrue => None
      case Eq(c, v) => Some(col(c) === lit(v))
      case NotEq(c, v) => Some(col(c) =!= lit(v))
      case Lt(c, v) => Some(col(c) < lit(v))
      case LtEq(c, v) => Some(col(c) <= lit(v))
      case Gt(c, v) => Some(col(c) > lit(v))
      case GtEq(c, v) => Some(col(c) >= lit(v))
      case In(c, vs) => Some(col(c).isin(vs: _*))
      case IsNull(c) => Some(col(c).isNull)
      case NotNull(c) => Some(col(c).isNotNull)
      case And(l, r) => (toColumn(l), toColumn(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    }
  }

  // ------------------------------------------------- Spark Filter bridge

  /** Translate Spark DSv2 pushed filters to IcePredicate (best-effort; filters
    * that don't translate are simply not used for pruning — Spark re-applies
    * all filters on the scanned rows anyway). */
  def fromSparkFilter(f: org.apache.spark.sql.sources.Filter): Option[IcePredicate] = {
    import org.apache.spark.sql.sources
    f match {
      case sources.EqualTo(a, v) => Some(Eq(a, v))
      case sources.EqualNullSafe(a, null) => Some(IsNull(a))
      case sources.EqualNullSafe(a, v) => Some(Eq(a, v))
      case sources.LessThan(a, v) => Some(Lt(a, v))
      case sources.LessThanOrEqual(a, v) => Some(LtEq(a, v))
      case sources.GreaterThan(a, v) => Some(Gt(a, v))
      case sources.GreaterThanOrEqual(a, v) => Some(GtEq(a, v))
      case sources.In(a, vs) => Some(In(a, vs.toSeq))
      case sources.IsNull(a) => Some(IsNull(a))
      case sources.IsNotNull(a) => Some(NotNull(a))
      case sources.And(l, r) =>
        (fromSparkFilter(l), fromSparkFilter(r)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          case (Some(a), None) => Some(a) // sound: dropping a conjunct widens
          case (None, Some(b)) => Some(b)
          case _ => None
        }
      case sources.Or(l, r) =>
        for { a <- fromSparkFilter(l); b <- fromSparkFilter(r) } yield Or(a, b)
      case sources.Not(sources.EqualTo(a, v)) => Some(NotEq(a, v))
      case _ => None
    }
  }

  /** EXACT filter conversion: None unless the whole filter translates with
    * identical semantics. [[fromSparkFilter]] may WIDEN (drop an
    * unconvertible And-conjunct) — sound for pruning, but a DELETE planned
    * from a widened predicate would remove rows the user never asked to
    * delete. Row-selecting operations must use this one. */
  def fromSparkFilterExact(f: org.apache.spark.sql.sources.Filter): Option[IcePredicate] = {
    import org.apache.spark.sql.sources
    f match {
      case _: sources.AlwaysTrue => Some(AlwaysTrue)
      case sources.And(l, r) =>
        for { a <- fromSparkFilterExact(l); b <- fromSparkFilterExact(r) } yield And(a, b)
      case sources.Or(l, r) =>
        for { a <- fromSparkFilterExact(l); b <- fromSparkFilterExact(r) } yield Or(a, b)
      case other => fromSparkFilter(other) match {
        // the single-node cases in fromSparkFilter are all exact
        case s @ Some(_) if !other.isInstanceOf[sources.And] => s
        case _ => None
      }
    }
  }
}
