package graft.table

import graft.spec._

/** Fluent schema evolution (SURVEY M6; `spec/metadata.go:307-333`,
  * `table/table.go:197-202`): field IDs are the identity, so renames
  * keep IDs, adds allocate past `lastColumnId`, and drops remove the
  * field while old data files remain readable via the scan's field-ID
  * remap. */
final class SchemaUpdate(table: Table) {
  private var fields: Seq[NestedField] = table.schema.fields
  private var nextId: Int =
    math.max(table.metadata.lastColumnId, table.schema.highestFieldId)

  def addColumn(name: String, t: IcebergType, required: Boolean = false,
      doc: Option[String] = None): SchemaUpdate = {
    require(!fields.exists(_.name == name), s"column $name already exists")
    // Iceberg's rule: a required column cannot be ADDED once data
    // exists — pre-evolution files have no value for it, the scan
    // null-fills it, and Spark's optimizer trusts the resulting
    // non-nullable schema (rewriting `c IS NULL` to false), silently
    // corrupting results. Only an empty table (no snapshots, or a
    // current snapshot with zero rows) may gain one.
    require(!required || table.currentSnapshot.forall(s =>
        s.summary.flatMap(_.counters.get(Summary.TotalRecords))
          .contains(0L)),
      s"cannot add required column $name to a table with existing " +
        "data: pre-evolution rows would null-fill a NOT NULL column; " +
        "add it optional (or makeOptional later)")
    nextId += 1
    fields = fields :+ NestedField(nextId, name, t, required, doc)
    this
  }

  def renameColumn(oldName: String, newName: String): SchemaUpdate = {
    require(fields.exists(_.name == oldName), s"no column $oldName")
    require(!fields.exists(_.name == newName), s"column $newName exists")
    fields = fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f)
    this
  }

  def dropColumn(name: String): SchemaUpdate = {
    val field = fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    // a partition transform sourcing this field would make every future
    // write and manifest rewrite unresolvable
    val referencing = table.metadata.partitionSpecs
      .flatMap(_.fields).filter(_.sourceId == field.id)
    require(referencing.isEmpty,
      s"cannot drop $name: referenced by partition field(s) " +
        referencing.map(_.name).mkString(", "))
    fields = fields.filterNot(_.name == name)
    this
  }

  /** Type promotion (int→long, float→double, decimal widening). */
  def updateColumnType(name: String, t: IcebergType): SchemaUpdate = {
    val f = fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    require(isPromotable(f.fieldType, t), s"cannot promote ${f.fieldType} to $t")
    fields = fields.map(x => if (x.name == name) x.copy(fieldType = t) else x)
    this
  }

  private def isPromotable(from: IcebergType, to: IcebergType): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case (IntType, LongType) => true
      case (FloatType, DoubleType) => true
      case (DecimalType(p1, s1), DecimalType(p2, s2)) =>
        s1 == s2 && p2 >= p1
      case _ => false
    }

  def makeOptional(name: String): SchemaUpdate = {
    fields = fields.map(f =>
      if (f.name == name) f.copy(required = false) else f)
    this
  }

  // ------------------------------------------------ nested evolution
  //
  // Adding a field inside a struct (old files null-fill it), dropping
  // NOT NULL on a nested field (metadata-only), and nested RENAME/DROP:
  // field ids are preserved, and the reader remaps nested columns
  // recursively BY ID (it requests the file's own inner names in the
  // current schema's order), so pre-evolution files read correctly.
  // Nested type PROMOTION (updateColumnTypeAt) rides the same by-id
  // remap: the request asks for the current leaf type and the parquet
  // reader widens the file's narrower physical type. Paths descend structs by child NAME and step into list
  // elements / map values via the spec's canonical `element` / `value`
  // segments (`tags.element.name` evolves a `list<struct>` leaf); map
  // KEYS are equality identities and stay frozen.

  /** Add a column at a dotted path, e.g. `Seq("info", "age")` adds
    * `age` inside struct `info`. Allocates a fresh field id. */
  def addNestedColumn(path: Seq[String], t: IcebergType,
      required: Boolean = false): SchemaUpdate = {
    require(path.length >= 2, "use addColumn for top-level columns")
    nextId += 1
    val newField = NestedField(nextId, path.last, t, required)
    fields = mapStruct(fields, path.dropRight(1)) { siblings =>
      require(!siblings.exists(_.name == path.last),
        s"column ${path.mkString(".")} already exists")
      siblings :+ newField
    }
    this
  }

  /** Rename a field at a dotted path, e.g. `Seq("info", "age")` renames
    * `age` inside struct `info`. The field id is preserved, so reads of
    * pre-rename files remap by id. */
  def renameColumnAt(path: Seq[String], newName: String): SchemaUpdate = {
    require(path.length >= 2, "use renameColumn for top-level columns")
    fields = mapStruct(fields, path.dropRight(1)) { siblings =>
      require(siblings.exists(_.name == path.last),
        s"no column ${path.mkString(".")}")
      require(!siblings.exists(_.name == newName),
        s"column ${(path.dropRight(1) :+ newName).mkString(".")} exists")
      siblings.map(f =>
        if (f.name == path.last) f.copy(name = newName) else f)
    }
    this
  }

  /** Drop a field at a dotted path. Pre-drop files project the field
    * away on read (by-id remap). */
  def dropColumnAt(path: Seq[String]): SchemaUpdate = {
    require(path.length >= 2, "use dropColumn for top-level columns")
    val specs = table.metadata.partitionSpecs
    fields = mapStruct(fields, path.dropRight(1)) { siblings =>
      val field = siblings.find(_.name == path.last).getOrElse(
        throw new IllegalArgumentException(
          s"no column ${path.mkString(".")}"))
      val referencing =
        specs.flatMap(_.fields).filter(_.sourceId == field.id)
      require(referencing.isEmpty,
        s"cannot drop ${path.mkString(".")}: referenced by partition " +
          s"field(s) ${referencing.map(_.name).mkString(", ")}")
      siblings.filterNot(_.name == path.last)
    }
    this
  }

  /** Type promotion at a dotted path — same rules as
    * [[updateColumnType]] (int→long, float→double, decimal widening).
    * The field id is preserved, so pre-promotion files read through
    * the by-id remap, which widens the narrower physical leaf. */
  def updateColumnTypeAt(path: Seq[String], t: IcebergType): SchemaUpdate = {
    require(path.length >= 2, "use updateColumnType for top-level columns")
    fields = mapStruct(fields, path.dropRight(1)) { siblings =>
      val f = siblings.find(_.name == path.last).getOrElse(
        throw new IllegalArgumentException(
          s"no column ${path.mkString(".")}"))
      require(isPromotable(f.fieldType, t),
        s"cannot promote ${f.fieldType} to $t at ${path.mkString(".")}")
      siblings.map(x =>
        if (x.name == path.last) x.copy(fieldType = t) else x)
    }
    this
  }

  /** Drop NOT NULL on a nested field (widening — always safe). */
  def makeOptionalAt(path: Seq[String]): SchemaUpdate = {
    require(path.length >= 2, "use makeOptional for top-level columns")
    fields = mapStruct(fields, path.dropRight(1)) { siblings =>
      require(siblings.exists(_.name == path.last),
        s"no column ${path.mkString(".")}")
      siblings.map(f =>
        if (f.name == path.last) f.copy(required = false) else f)
    }
    this
  }

  private def mapStruct(fs: Seq[NestedField], path: Seq[String])(
      change: Seq[NestedField] => Seq[NestedField]): Seq[NestedField] =
    path match {
      case Seq() => change(fs)
      case head +: rest =>
        val f = fs.find(_.name == head).getOrElse(
          throw new IllegalArgumentException(s"no column $head"))
        val updated = f.copy(fieldType = mapTypeAt(f.fieldType, head,
          rest)(change))
        fs.map(x => if (x.name == head) updated else x)
    }

  /** Walk one field's TYPE toward the target struct: structs consume
    * the next segment as a child name (via [[mapStruct]]); `element` /
    * `value` step into a list element or map value, so chains like
    * `tags.element.name` or `attrs.value.element.x` resolve. Map keys
    * are deliberately unreachable: key bytes are the map's equality
    * identity in every file, so evolving them would corrupt lookups in
    * pre-evolution files. */
  private def mapTypeAt(t: IcebergType, at: String, path: Seq[String])(
      change: Seq[NestedField] => Seq[NestedField]): IcebergType =
    (t, path) match {
      case (StructType(children), _) =>
        StructType(mapStruct(children, path)(change))
      case (lt: ListType, "element" +: rest) =>
        lt.copy(element =
          mapTypeAt(lt.element, s"$at.element", rest)(change))
      case (mt: MapType, "value" +: rest) =>
        mt.copy(value = mapTypeAt(mt.value, s"$at.value", rest)(change))
      case (_: MapType, "key" +: _) =>
        throw new IllegalArgumentException(
          s"cannot evolve inside $at.key: map keys are the map's " +
            "equality identity and are frozen")
      case (other, _) => throw new IllegalArgumentException(
        s"$at is $other, not a struct — cannot evolve inside it")
    }

  def commit(): Table =
    table.newTransaction()
      .addSchema(Schema(0, fields, table.schema.identifierFieldIds))
      .commit()
}
