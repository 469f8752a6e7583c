package graft.table

import graft.spec._

/** Inclusive-projection stats pruning — the two evaluators the reference
  * stubs to `return true` (`table/insert.go:255-266`), done for real.
  * Conservative: any uncertainty returns "might match".
  *
  * `mightMatch*` answers: could ANY row selected by `expr` live in this
  * manifest/file? AND = all children might match; OR = any; NOT is not
  * safely projectable (inclusive projection), so it degrades to true —
  * callers pre-`simplify` expressions so double negation is gone.
  */
object Pruning {

  // ------------------------------------------------- file-level bounds

  /** Data-file pruning via per-column min/max + null/value counts keyed
    * by field ID (`spec/manifest.go:120-148`). */
  def fileMightMatch(expr: Expr, file: DataFile, schema: Schema): Boolean =
    expr match {
      case AlwaysTrue => true
      case AlwaysFalse => false
      case And(cs) => cs.forall(fileMightMatch(_, file, schema))
      case Or(cs) => cs.exists(fileMightMatch(_, file, schema))
      case Not(_) => true // inclusive projection cannot negate
      case leaf: Leaf => schema.fieldByPath(leaf.column) match {
        case None => true // unknown column: let Spark raise the error
        case Some(field) => leafMightMatch(leaf, file, field)
      }
    }

  private def leafMightMatch(leaf: Leaf, file: DataFile,
      field: NestedField): Boolean = {
    val fid = field.id
    val t = field.fieldType
    val lower = file.lowerBounds.get(fid).map(Bounds.deserialize(_, t))
    val upper = file.upperBounds.get(fid).map(Bounds.deserialize(_, t))
    val nullCount = file.nullValueCounts.get(fid)
    val valueCount = file.valueCounts.get(fid)
    val allNull = (nullCount, valueCount) match {
      case (Some(n), Some(v)) => n == v && v > 0
      case _ => false
    }
    // NaN model (spec/manifest.go:125-127's nan_value_counts, consulted):
    // parquet min/max EXCLUDE NaN, and NaN sorts greater than every value
    // in both Spark and DuckDB — so NaN rows satisfy Gt/Gte regardless of
    // the recorded upper bound. Those prunes are only sound when the file
    // provably has no NaNs; files without a harvested count stay.
    val isFp = t == FloatType || t == DoubleType
    val nanCount = file.nanValueCounts.get(fid)
    val nanPossible = isFp && !nanCount.contains(0L)
    def isNanLit(v: Any): Boolean = v match {
      case d: Double => d.isNaN
      case f: Float => f.isNaN
      case _ => false
    }

    def cmpLower(v: Any): Option[Int] = // sign of (v compared to lower)
      lower.flatMap(l => safeCompare(v, l, t))
    def cmpUpper(v: Any): Option[Int] =
      upper.flatMap(u => safeCompare(v, u, t))

    leaf match {
      case IsNull(_) => nullCount.forall(_ > 0)
      case NotNull(_) => !allNull
      case Eq(_, v) if isNanLit(v) => nanCount.forall(_ > 0)
      case Eq(_, v) =>
        if (allNull) false
        else cmpLower(v).forall(_ >= 0) && cmpUpper(v).forall(_ <= 0)
      case NotEq(_, _) => !allNull // can't prune by bounds alone
      // col < NaN holds for every non-NaN value; col > NaN for none
      case Lt(_, v) if isNanLit(v) => !allNull
      case Lte(_, v) if isNanLit(v) => !allNull
      case Gt(_, v) if isNanLit(v) => false
      case Gte(_, v) if isNanLit(v) => nanCount.forall(_ > 0)
      case Lt(_, v) => !allNull && cmpLower(v).forall(_ > 0)
      case Lte(_, v) => !allNull && cmpLower(v).forall(_ >= 0)
      case Gt(_, v) =>
        !allNull && (nanPossible || cmpUpper(v).forall(_ < 0))
      case Gte(_, v) =>
        !allNull && (nanPossible || cmpUpper(v).forall(_ <= 0))
      case In(_, vs) =>
        !allNull && vs.exists(v =>
          if (isNanLit(v)) nanCount.forall(_ > 0)
          else cmpLower(v).forall(_ >= 0) && cmpUpper(v).forall(_ <= 0))
      case NotIn(_, _) => !allNull
      case StartsWith(_, p) =>
        if (allNull) false
        else (lower, upper) match {
          case (Some(l: String), Some(u: String)) =>
            // file can contain a p-prefixed string iff
            // truncate(l) <= p <= u (lexicographically)
            val lt = l.take(p.length)
            lt <= p && p <= u
          case _ => true
        }
      case NotStartsWith(_, p) =>
        (lower, upper) match {
          // prunable only when EVERY value starts with p
          case (Some(l: String), Some(u: String)) =>
            !(l.startsWith(p) && u.startsWith(p) && l.length >= p.length)
          case _ => true
        }
    }
  }

  private def safeCompare(a: Any, b: Any, t: IcebergType): Option[Int] =
    try Some(Bounds.compare(coerce(a, t), b, t))
    catch { case _: Exception => None }

  /** Coerce predicate literals to the column's bound representation. */
  private[table] def coerce(v: Any, t: IcebergType): Any = (t, v) match {
    case (LongType, i: Int) => i.toLong
    case (IntType, l: Long) => l.toInt
    case (DoubleType, i: Int) => i.toDouble
    case (DoubleType, l: Long) => l.toDouble
    case (DoubleType, f: Float) => f.toDouble
    case (FloatType, d: Double) => d.toFloat
    case (FloatType, i: Int) => i.toFloat
    case (TimestampType | TimestampTzType, ts: java.sql.Timestamp) =>
      ts.getTime * 1000L + (ts.getNanos / 1000) % 1000 // µs
    case (TimestampType | TimestampTzType, t2: java.time.Instant) =>
      t2.getEpochSecond * 1000000L + t2.getNano / 1000
    // NTZ wall-clock literal: micros since epoch reading the fields as
    // UTC — the canonical Iceberg `timestamp` representation
    case (TimestampType | TimestampTzType, ldt: java.time.LocalDateTime) =>
      ldt.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
        ldt.getNano / 1000
    case (DateType, d: java.sql.Date) => d.toLocalDate.toEpochDay.toInt
    case (DateType, d: java.time.LocalDate) => d.toEpochDay.toInt
    case (DecimalType(_, s), bd: java.math.BigDecimal) => bd.setScale(s)
    case _ => v
  }

  // --------------------------------------- file-level partition tuple

  /** Prune by the file's exact partition tuple: every row in the file
    * has transform(col) == tuple value, so predicates project to exact
    * point checks — strictly stronger than bounds for bucket/truncate
    * (where column min/max overlap across partitions). */
  def partitionTupleMightMatch(expr: Expr, file: DataFile,
      spec: PartitionSpec, schema: Schema): Boolean = {
    if (spec.isUnpartitioned || file.partition.isEmpty) return true
    expr match {
      case AlwaysTrue => true
      case AlwaysFalse => false
      case And(cs) => cs.forall(partitionTupleMightMatch(_, file, spec, schema))
      case Or(cs) => cs.exists(partitionTupleMightMatch(_, file, spec, schema))
      case Not(_) => true
      case leaf: Leaf =>
        spec.fields
          .filter(pf => schema.field(pf.sourceId).exists(_.name == leaf.column))
          .forall { pf =>
            file.partition.get(pf.name) match {
              case None => true
              case Some(pv) => tupleLeafMightMatch(leaf, pf, pv, schema)
            }
          }
    }
  }

  private def tupleLeafMightMatch(leaf: Leaf, pf: PartitionField,
      pv: Any, schema: Schema): Boolean = {
    val srcType = schema.field(pf.sourceId).get.fieldType
    val resType = Transform.resultType(pf.transform, srcType)
    def project(v: Any): Option[Any] =
      Transforms.applyToValue(pf.transform, coerce(v, srcType), srcType)
    def cmp(v: Any): Option[Int] = // sign of project(v) - pv
      project(v).flatMap(p =>
        if (p == null || pv == null) None
        else safeCompare(p, pv, resType))

    if (pv == null) return leaf match {
      case IsNull(_) => true
      case NotNull(_) => pf.transform != Transform.Identity
      case _ => pf.transform != Transform.Identity // void/derived nulls keep
    }
    pf.transform match {
      case Transform.Identity | Transform.Year | Transform.Month |
          Transform.Day | Transform.Hour =>
        leaf match {
          case IsNull(_) => false // tuple value non-null, monotone transform
          case NotNull(_) => true
          case Eq(_, v) => cmp(v).forall(_ == 0)
          // floor projection: rows with transform(col)=pv can satisfy
          // col < v iff pv <= project(v); col > v iff pv >= project(v)
          case Lt(_, v) => cmp(v).forall(_ >= 0)
          case Lte(_, v) => cmp(v).forall(_ >= 0)
          case Gt(_, v) => cmp(v).forall(_ <= 0)
          case Gte(_, v) => cmp(v).forall(_ <= 0)
          case In(_, vs) => vs.exists(v => cmp(v).forall(_ == 0))
          case _ => true
        }
      case Transform.Bucket(_) | Transform.Truncate(_) =>
        leaf match {
          case Eq(_, v) => cmp(v).forall(_ == 0)
          case In(_, vs) => vs.exists(v => cmp(v).forall(_ == 0))
          case IsNull(_) => false
          case _ => true
        }
      case Transform.Void => true
    }
  }

  // -------------------------------------------- manifest-level summary

  /** Manifest pruning via partition field summaries
    * (`spec/manifest.go:199-205`). Data predicates are projected onto
    * partition transforms: exact for identity; range-projected for the
    * calendar transforms; Eq/In only for bucket (hash preserves
    * equality, not order). */
  def manifestMightMatch(expr: Expr, mf: ManifestFile, spec: PartitionSpec,
      schema: Schema): Boolean = {
    if (mf.partitions.isEmpty || spec.fields.isEmpty) return true
    expr match {
      case AlwaysTrue => true
      case AlwaysFalse => false
      case And(cs) => cs.forall(manifestMightMatch(_, mf, spec, schema))
      case Or(cs) => cs.exists(manifestMightMatch(_, mf, spec, schema))
      case Not(_) => true
      case leaf: Leaf =>
        // every partition field derived from this leaf's column may prune
        spec.fields.zipWithIndex
          .filter { case (pf, _) =>
            schema.field(pf.sourceId).exists(_.name == leaf.column) }
          .forall { case (pf, idx) =>
            if (idx >= mf.partitions.size) true
            else summaryMightMatch(leaf, pf, mf.partitions(idx), schema)
          }
    }
  }

  /** Could a file with partition `tuple` live in `mf`? Compares in the
    * partition (result-type) domain against the manifest's per-field
    * summaries: a null value (or a key the tuple omits — manifests
    * drop null partition values) needs `containsNull`; a non-null value
    * must lie in [lower, upper]. Any deserialize or compare failure, or
    * a manifest without summaries, answers "might contain". The caller
    * matches `mf.partitionSpecId` to the tuple's spec. */
  def manifestMightContainTuple(mf: ManifestFile, partitionType: StructType,
      tuple: Map[String, Any]): Boolean =
    partitionType.fields.zip(mf.partitions).forall { case (f, s) =>
      val t = f.fieldType
      try tuple.get(f.name).orNull match {
        case null => s.containsNull
        case v0 =>
          val v = coerce(v0, t)
          s.lowerBound.forall(l =>
            Bounds.compare(v, Bounds.deserialize(l, t), t) >= 0) &&
            s.upperBound.forall(u =>
              Bounds.compare(v, Bounds.deserialize(u, t), t) <= 0)
      } catch { case _: Exception => true }
    }

  private def summaryMightMatch(leaf: Leaf, pf: PartitionField,
      summary: PartitionFieldSummary, schema: Schema): Boolean = {
    val srcType = schema.field(pf.sourceId).get.fieldType
    val resType = Transform.resultType(pf.transform, srcType)
    val lower = summary.lowerBound.map(Bounds.deserialize(_, resType))
    val upper = summary.upperBound.map(Bounds.deserialize(_, resType))

    def project(v: Any): Option[Any] =
      Transforms.applyToValue(pf.transform, coerce(v, srcType), srcType)

    def inRange(pv: Any): Boolean =
      lower.flatMap(l => safeCompare(pv, l, resType)).forall(_ >= 0) &&
        upper.flatMap(u => safeCompare(pv, u, resType)).forall(_ <= 0)

    pf.transform match {
      case Transform.Void => true
      case Transform.Identity | Transform.Year | Transform.Month |
          Transform.Day | Transform.Hour =>
        // order-preserving transforms: project literal, compare ranges
        leaf match {
          case IsNull(_) => summary.containsNull
          case NotNull(_) => lower.isDefined || !summary.containsNull
          case Eq(_, v) => project(v).forall(inRange)
          case Lt(_, v) => project(v).flatMap(pv =>
            lower.flatMap(l => safeCompare(pv, l, resType))).forall(_ >= 0)
          // Lt projects to Lte on the transformed domain (floor projection)
          case Lte(_, v) => project(v).flatMap(pv =>
            lower.flatMap(l => safeCompare(pv, l, resType))).forall(_ >= 0)
          case Gt(_, v) => project(v).flatMap(pv =>
            upper.flatMap(u => safeCompare(pv, u, resType))).forall(_ <= 0)
          case Gte(_, v) => project(v).flatMap(pv =>
            upper.flatMap(u => safeCompare(pv, u, resType))).forall(_ <= 0)
          case In(_, vs) => vs.exists(v => project(v).forall(inRange))
          case _ => true
        }
      case Transform.Bucket(_) =>
        // hash transform: only equality projects
        leaf match {
          case Eq(_, v) => project(v).forall(inRange)
          case In(_, vs) => vs.exists(v => project(v).forall(inRange))
          case IsNull(_) => summary.containsNull
          case _ => true
        }
      case Transform.Truncate(_) =>
        leaf match {
          case Eq(_, v) => project(v).forall(inRange)
          case In(_, vs) => vs.exists(v => project(v).forall(inRange))
          case IsNull(_) => summary.containsNull
          case _ => true
        }
    }
  }
}
