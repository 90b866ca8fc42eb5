package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, StagingTableCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 [[TableCatalog]] over manifest tables — the piece that turns the
  * sink from a path-addressed format into a NAMED SQL surface:
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.root = /data/graft
  *
  *   CREATE TABLE graft.db.t (id BIGINT, name STRING)
  *   INSERT INTO graft.db.t VALUES (1, 'a')
  *   SELECT * FROM graft.db.t
  *   DELETE FROM graft.db.t WHERE id = 1      -- SupportsDelete, 3VL exact
  * }}}
  *
  * Identifiers map to directories under `root` (namespace levels are
  * nested dirs), so every table keeps the full manifest feature set —
  * snapshots, time travel, deletion vectors, schema evolution, zone
  * maps — and the SQL layer and the path API see the SAME table.
  * `CREATE TABLE` publishes a schema-only manifest (commit 0), so an
  * empty table has a real schema immediately (the reference's CREATE
  * path makes the same move: DDL before data,
  * H2CsvCreateSink.scala:106–126). `PARTITIONED BY (col)` — a single
  * IDENTITY transform on a long/int/string column — declares the
  * storage-partitioned-join layout (writers demultiplex one file per
  * value, scans report `KeyGroupedPartitioning`; see
  * [[ManifestFileSink.setPartitionColumn]]); bucket/temporal transforms
  * are refused, and clustering WITHIN files still belongs to `optimize`.
  * Rename is a directory move (same-filesystem atomic);
  * drop recursively removes the table dir. */
class GraftCatalog extends TableCatalog with StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root=<dir>"))
  }

  override def name(): String = catalogName

  private def dir(ident: Identifier): java.nio.file.Path =
    Paths.get(root, (ident.namespace() :+ ident.name()): _*)

  private def exists(ident: Identifier): Boolean =
    ManifestFileSink.manifests(dir(ident).toString).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = Paths.get(root, namespace: _*)
    if (!Files.isDirectory(ns)) throw new NoSuchNamespaceException(namespace)
    val out = Files.list(ns)
    try out.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        ManifestFileSink.manifests(p.toString).nonEmpty)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally out.close()
  }

  override def loadTable(ident: Identifier): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val path = dir(ident).toString
    val schema = ManifestFileSink.storedSchema(path, None)
      .getOrElse(new StructType())
    new ManifestTable(path, schema, acceptAnySchema = false)
  }

  // ---- namespaces (SupportsNamespaces): namespaces ARE directories ----
  // `CREATE NAMESPACE` = mkdir, `DROP NAMESPACE` = rmdir (cascade walks),
  // listing filters to dirs that aren't themselves tables. Flat file
  // semantics, same as the identifier↔directory map the tables use.

  private def nsPath(ns: Array[String]): java.nio.file.Path = Paths.get(root, ns: _*)

  private def isTableDir(p: java.nio.file.Path): Boolean =
    ManifestFileSink.manifests(p.toString).nonEmpty

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.nonEmpty && Files.isDirectory(nsPath(ns)) && !isTableDir(nsPath(ns))

  override def listNamespaces(): Array[Array[String]] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return Array.empty
    val out = Files.list(r)
    try out.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => Array(p.getFileName.toString)).toArray
    finally out.close()
  }

  override def listNamespaces(parent: Array[String]): Array[Array[String]] = {
    if (parent.isEmpty) return listNamespaces()
    val ns = nsPath(parent)
    if (!Files.isDirectory(ns) || isTableDir(ns)) throw new NoSuchNamespaceException(parent)
    val out = Files.list(ns)
    try out.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => parent :+ p.getFileName.toString).toArray
    finally out.close()
  }

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    java.util.Collections.singletonMap(
      org.apache.spark.sql.connector.catalog.SupportsNamespaces.PROP_LOCATION,
      nsPath(ns).toString)
  }

  override def createNamespace(
      ns: Array[String], properties: util.Map[String, String]): Unit = {
    if (namespaceExists(ns))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(ns)
    Files.createDirectories(nsPath(ns))
    ()
  }

  override def alterNamespace(
      ns: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable properties (they are directories)")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(ns)
    if (!namespaceExists(ns)) return false
    val hasChildren = { val s = Files.list(p); try s.iterator().hasNext finally s.close() }
    if (hasChildren && !cascade)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
        ns, "drop with CASCADE to remove contained tables")
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
    true
  }

  /** SQL time travel: `SELECT … FROM graft.db.t VERSION AS OF <v>` where
    * `<v>` is a commit seq number or a manifest name. The returned table
    * is a read-only pin of that snapshot — repeatable no matter how many
    * commits land afterwards; writes and DELETE refuse. A seq retired by
    * compaction fails with the manifest layer's explicit expire-snapshots
    * error, never an empty answer. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val path = dir(ident).toString
    // WAP AUDIT view: `VERSION AS OF 'wap:<id>'` reads the current main
    // line plus the id's staged commits — the table as it WILL be if
    // `wap_publish` runs. Read-only like every pinned view; a typo'd id
    // fails in the snapshot resolution, listing the staged ids.
    val log = ManifestFileSink.Snapshot.headers(path)
    if (version.startsWith("wap:")) {
      val schema = log.at(Some(version)).schema.getOrElse(new StructType())
      return new ManifestTable(path, schema, acceptAnySchema = false,
        pinnedAsOf = Some(version))
    }
    val manifest =
      if (version.forall(_.isDigit))
        log.published.find(_.meta.seq == version.toLong).map(_.name)
          .getOrElse(throw new IllegalArgumentException(
            s"no commit with seq $version in ${ident.name()} (retired by " +
              "compaction, or never published)"))
      else ManifestFileSink.tags(path).toMap.get(version) match {
        // A TAG resolves to its pinned manifest ('VERSION AS OF "v1"').
        case Some(m) => m
        // A raw manifest name is accepted only if the table knows it —
        // live (readable) or folded (its resolution then raises the
        // explicit expire-snapshots error). A typo must fail loudly, never
        // resolve to an empty table.
        case None =>
          if (log.published.exists(_.name == version) || log.folded.contains(version)) version
          else throw new IllegalArgumentException(
            s"'$version' is neither a tag nor a manifest of ${ident.name()}; " +
              s"tags: ${ManifestFileSink.tags(path).map(_._1).mkString(", ")}")
      }
    val schema = log.at(Some(manifest)).schema.getOrElse(new StructType())
    new ManifestTable(path, schema, acceptAnySchema = false,
      pinnedAsOf = Some(manifest))
  }

  /** `TIMESTAMP AS OF` is deliberately unsupported: commit order is
    * defined by manifest seq (coarse local-fs mtimes order same-tick
    * commits arbitrarily — the reason the header exists), so a
    * wall-clock pin could resolve to the WRONG snapshot. Use
    * `VERSION AS OF <seq>`. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    throw new UnsupportedOperationException(
      "TIMESTAMP AS OF is not supported (local-fs mtimes don't order " +
        "commits); use VERSION AS OF <seq|manifest>")

  /** The supported transform shapes: `PARTITIONED BY (col[, col2])` —
    * identity transforms on distinct top-level long/int/string columns —
    * and `PARTITIONED BY (bucket(n, col))` — the hash-bucket layout for
    * HIGH-cardinality join keys (one file per deterministic bucket
    * instead of one per value). Mixed specs compose; each layout demuxes
    * one file per key TUPLE and reports a composite
    * KeyGroupedPartitioning at scan time. Returned entries are the
    * `_partition` line encodings ([[ManifestFileSink.parsePartField]]). */
  private def partitionColsOf(
      partitions: Array[Transform], schema: StructType): Seq[String] = {
    def vetCol(col: String, kind: String): String = {
      val f = schema.fields.find(_.name == col).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $col is not in the table schema"))
      f.dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.StringType => col
        case dt => throw new IllegalArgumentException(
          s"partition column $col: unsupported type ${dt.simpleString} " +
            s"($kind partitioning takes BIGINT/INT/STRING)")
      }
    }
    val specs = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        vetCol(t.references()(0).fieldNames()(0), "identity")
      case t if t.name == "bucket" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        val col = t.references()(0).fieldNames()(0)
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.dataType == org.apache.spark.sql.types.IntegerType =>
            l.value.asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform needs an int bucket count: ${t.describe()}"))
        if (n <= 0) throw new IllegalArgumentException(
          s"bucket count must be positive: ${t.describe()}")
        if (col.exists(c => c == ':' || c == ',' || c == '=' ||
            Character.isISOControl(c)))
          throw new IllegalArgumentException(
            s"bucket partition column name contains reserved characters: $col")
        s"bucket:$n:${vetCol(col, "bucket")}"
      case other => throw new IllegalArgumentException(
        "graft tables take identity and bucket(n, col) partition " +
          s"transforms only (got ${other.describe()}); use " +
          "optimize(clusterBy) for within-file layout")
    }
    val cols = specs.map(ManifestFileSink.parsePartField(_).col)
    if (cols.distinct.size != cols.size) throw new IllegalArgumentException(
      s"duplicate partition columns: ${cols.mkString(", ")}")
    specs
  }

  /** Index declarations through TBLPROPERTIES — the SQL door to the
    * `_bloom` / `_trgm` control files the path API sets directly:
    *
    * {{{
    *   CREATE TABLE graft.db.docs (id BIGINT, text STRING)
    *   TBLPROPERTIES ('bloom.columns' = 'id', 'trgm.columns' = 'text')
    * }}}
    *
    * `bloom.columns` = per-file equality Blooms (point lookups on
    * high-cardinality keys); `trgm.columns` = per-file trigram Blooms
    * (substring pruning for contains/starts/ends on STRING columns).
    * Columns are validated against the schema; trigram columns must be
    * STRING. */
  private def applyIndexProperties(
      path: String, schema: StructType,
      properties: util.Map[String, String]): Unit = {
    def colsOf(key: String): Seq[String] =
      Option(properties.get(key)).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val bloom = colsOf("bloom.columns")
    val trgm = colsOf("trgm.columns")
    val sort = colsOf("sort.columns")
    (bloom ++ trgm ++ sort).foreach { c =>
      if (!schema.fieldNames.contains(c)) throw new IllegalArgumentException(
        s"index column $c is not in the table schema")
    }
    trgm.foreach { c =>
      if (schema.fields(schema.fieldNames.indexOf(c)).dataType !=
          org.apache.spark.sql.types.StringType)
        throw new IllegalArgumentException(
          s"trgm.columns takes STRING columns; $c is " +
            schema.fields(schema.fieldNames.indexOf(c)).dataType.simpleString)
    }
    if (bloom.nonEmpty) ManifestFileSink.setBloomIndex(path, bloom)
    if (trgm.nonEmpty) ManifestFileSink.setTrigramIndex(path, trgm)
    if (sort.nonEmpty) ManifestFileSink.setSortColumns(path, sort)
    // CHECK constraints: TBLPROPERTIES('check.<name>' = '<predicate>').
    // Each predicate must resolve against the declared schema NOW — a
    // typo'd column fails the DDL, not the first write.
    val checks = properties.asScala.toSeq.collect {
      case (k, v) if k.startsWith("check.") && k.length > 6 =>
        (k.substring(6), v)
    }.sortBy(_._1)
    checks.foreach { case (n, sqlText) =>
      ManifestFileSink.resolveCheck(Some(schema), schema, n, sqlText)
    }
    if (checks.nonEmpty) ManifestFileSink.setCheckConstraints(path, checks)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val pcols = partitionColsOf(partitions, schema)
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    val path = dir(ident)
    Files.createDirectories(path)
    applyIndexProperties(path.toString, schema, properties)
    if (pcols.nonEmpty) ManifestFileSink.setPartitionColumns(path.toString, pcols)
    // Schema-only commit 0: the table exists, empty, with a real schema.
    ManifestFileSink.publish(path.toString,
      s"manifest-${java.util.UUID.randomUUID().toString}",
      ManifestFileSink.asNullable(schema), Array.empty)
    new ManifestTable(path.toString, ManifestFileSink.asNullable(schema),
      acceptAnySchema = false)
  }

  /** `ALTER TABLE … ADD COLUMN` / `DROP COLUMN` through SQL — the same
    * by-name evolution door the path API opens on append. Each is a
    * SCHEMA-ONLY commit (no file touched): an added column back-fills
    * NULL in every pre-existing file's rows at read time; a dropped
    * column simply stops being read (and, like Delta's column drop, its
    * bytes remain until `migrateSchema` rewrites history). Renames and
    * type changes refuse loudly — a rename would silently NULL the
    * column (by-name reconcile cannot know old data belongs to the new
    * name) and a type change is the classic evolution corruption; both
    * have `migrateSchema` as the explicit rewrite path. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val path = dir(ident).toString
    val current = ManifestFileSink.storedSchema(path, None)
      .getOrElse(new StructType())
    // CHECK constraints arrive as SET/UNSET TBLPROPERTIES('check.<name>').
    // ADDING one follows the Delta contract: the predicate must hold on
    // every EXISTING row — a distributed violation count over the live
    // table decides, so a constraint is an invariant from the moment it
    // exists, never a promise about future writes only.
    val (checkChanges, rest) = changes.partition {
      case sp: TableChange.SetProperty =>
        sp.property.startsWith("check.") || sp.property == "sort.columns"
      case rp: TableChange.RemoveProperty => rp.property.startsWith("check.")
      case _ => false
    }
    checkChanges.foreach {
      // Declared sort order can evolve like the partition spec: the
      // declaration changes, the data does not — future writes sort and
      // attest, legacy files simply stop matching the report prefix.
      case sp: TableChange.SetProperty if sp.property == "sort.columns" =>
        val cols = sp.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        cols.foreach { c =>
          if (!current.fieldNames.contains(c)) throw new IllegalArgumentException(
            s"sort column $c is not in the table schema")
        }
        ManifestFileSink.setSortColumns(path, cols)
      case sp: TableChange.SetProperty =>
        val name = sp.property.substring(6)
        require(name.nonEmpty, "constraint name must be non-empty")
        ManifestFileSink.resolveCheck(Some(current), current, name, sp.value)
        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.{expr, lit}
        val violations = spark.read.format(classOf[ManifestFileSink].getName)
          .option("path", path).load()
          .filter(expr(sp.value) <=> lit(false)).count()
        if (violations > 0) throw new IllegalStateException(
          s"cannot add CHECK constraint '$name' (${sp.value}): " +
            s"$violations existing row(s) violate it")
        ManifestFileSink.setCheckConstraints(path,
          ManifestFileSink.checkConstraints(path).filterNot(_._1 == name) :+
            (name, sp.value))
      case rp: TableChange.RemoveProperty =>
        val name = rp.property.substring(6)
        ManifestFileSink.setCheckConstraints(path,
          ManifestFileSink.checkConstraints(path).filterNot(_._1 == name))
      case _ => ()
    }
    val evolved = rest.foldLeft(current) { (sch, ch) => ch match {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft tables are flat; nested ADD COLUMN is not supported")
        val name = add.fieldNames.head
        require(!sch.fieldNames.contains(name), s"column $name already exists")
        // Backfill is NULL-only, so the added column must be nullable.
        require(add.isNullable,
          s"ADD COLUMN $name must be nullable: pre-existing rows backfill NULL")
        StructType(sch.fields :+ StructField(name, add.dataType, nullable = true))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft tables are flat; nested DROP COLUMN is not supported")
        val name = del.fieldNames.head
        if (!sch.fieldNames.contains(name)) {
          if (del.ifExists) sch
          else throw new IllegalArgumentException(s"no such column: $name")
        } else {
          require(sch.fields.length > 1, "cannot drop the last column")
          StructType(sch.fields.filterNot(_.name == name))
        }
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change ${other.getClass.getSimpleName} is not supported: " +
          "renames and type changes would corrupt by-name evolution; " +
          "use migrateSchema after an explicit rewrite")
    }}
    if (evolved != current)
      ManifestFileSink.publish(path,
        s"manifest-${java.util.UUID.randomUUID().toString}",
        ManifestFileSink.asNullable(evolved), Array.empty)
    loadTable(ident)
  }

  // ----------------------------------------------------- atomic CTAS/RTAS

  /** `CREATE TABLE … AS SELECT`: the query's results stage invisibly
    * (task files only — no manifest) and publish as the table's first
    * commit only after the whole query succeeds. A failed CTAS leaves
    * nothing: no table, no directory. */
  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val pcols = partitionColsOf(partitions, schema)
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    // Vet the schema BEFORE touching the filesystem: an unwritable CTAS
    // schema (e.g. a void column) must fail at staging with no trace.
    ManifestFileSink.vetWritable(schema)
    val path = dir(ident)
    val created = !Files.isDirectory(path)
    Files.createDirectories(path)
    // Index declarations must exist BEFORE the staged write's task files
    // are produced — their writers read the control files. A failed CTAS
    // removes the created dir (control files included).
    applyIndexProperties(path.toString, schema, properties)
    new StagedManifestTable(path.toString, ManifestFileSink.asNullable(schema),
      replace = false, createdDir = created, partitionCols = pcols)
  }

  /** `REPLACE TABLE … AS SELECT`: retract-everything + new results in ONE
    * manifest commit — readers see the old table or the new, never a mix,
    * pre-replace snapshots stay time-travelable, and a schema change
    * (even a column type change) is legal because the old rows retract in
    * the same commit. */
  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val pcols = partitionColsOf(partitions, schema)
    if (!exists(ident)) throw new NoSuchTableException(ident)
    new StagedManifestTable(dir(ident).toString,
      ManifestFileSink.asNullable(schema), replace = true, createdDir = false,
      partitionCols = pcols)
  }

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    if (exists(ident)) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  // ---- maintenance procedures (ProcedureCatalog): CALL graft.system.* ----
  // The Iceberg-style SQL surface for the sink's maintenance jobs:
  //   CALL graft.system.compact(table => 'db.t')
  //   CALL graft.system.optimize(table => 'db.t', cluster_by => 'id')
  //   CALL graft.system.vacuum(table => 'db.t', older_than_hours => 0)
  //   CALL graft.system.apply_deletes(table => 'db.t')
  //   CALL graft.system.migrate_schema(table => 'db.t')
  // Each returns one row with the affected-file count. The table argument
  // is catalog-relative ('ns.table'), resolved through the same
  // identifier↔directory map as every other statement.

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedure.Names.map(Identifier.of(Array("system"), _)).toArray

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val nm = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (!GraftProcedure.Names.contains(nm))
      throw new UnsupportedOperationException(
        s"unknown procedure $nm; available: ${GraftProcedure.Names.mkString(", ")}")
    new GraftProcedure(nm, root)
  }

  // ---- catalog functions (FunctionCatalog): SELECT graft.system.dot(a,b) ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.Names.map(Identifier.of(Array("system"), _)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident.name().toLowerCase(java.util.Locale.ROOT))

  override def dropTable(ident: Identifier): Boolean = {
    val p = dir(ident)
    if (!exists(ident)) false
    else {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
      true
    }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!exists(from)) throw new NoSuchTableException(from)
    if (exists(to)) throw new TableAlreadyExistsException(to)
    Files.createDirectories(dir(to).getParent)
    Files.move(dir(from), dir(to))
  }
}

/** One maintenance procedure, unbound == bound (the parameter list is
  * static per operation). `call` runs the sink's maintenance entrypoint
  * on the driver (each is itself a distributed job where it matters —
  * optimize's rewrite is a Spark job) and returns one row with the
  * affected-file count through a [[org.apache.spark.sql.connector.read.LocalScan]]. */
private[sources] class GraftProcedure(op: String, root: String)
  extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
  with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {

  import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
  import org.apache.spark.sql.types.{IntegerType, StringType}

  override def name(): String = op
  override def description(): String = s"graft maintenance procedure: $op"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.procedures.BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = op match {
    case "optimize" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("cluster_by", StringType).build(),
      ProcedureParameter.in("num_files", IntegerType).defaultValue("8").build())
    case "zorder" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("cluster_by", StringType).build(), // comma-separated 2..3 cols
      ProcedureParameter.in("num_files", IntegerType).defaultValue("8").build())
    case "repartition_table" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("spec", StringType).build(), // comma-joined _partition lines
      ProcedureParameter.in("num_files", IntegerType).defaultValue("8").build())
    case "vacuum" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("older_than_hours", IntegerType).defaultValue("168").build())
    case "tag" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      // empty = tag the CURRENT snapshot; digits = tag that seq
      ProcedureParameter.in("version", StringType).defaultValue("''").build())
    case "untag" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    case "wap_publish" | "wap_discard" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("id", StringType).build())
    case "rollback" => Array(
      ProcedureParameter.in("table", StringType).build(),
      // a commit seq, a tag name, or a manifest name
      ProcedureParameter.in("ref", StringType).build())
    case "snapshot_diff" => Array(
      ProcedureParameter.in("table", StringType).build(),
      // each ref: a commit seq or tag name; empty = the CURRENT snapshot
      ProcedureParameter.in("from_ref", StringType).build(),
      ProcedureParameter.in("to_ref", StringType).defaultValue("''").build())
    case "expire_snapshots" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_last", IntegerType).defaultValue("2").build())
    case "set_partition_spec" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("spec", StringType).build()) // comma-joined _partition lines
    case _ => Array(ProcedureParameter.in("table", StringType).build())
  }

  override def call(input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    val table = input.getUTF8String(0).toString
    // Each identifier segment must be a plain name: no path separators, no
    // '..', no empty/absolute segments — CALL cannot escape the catalog
    // root and vacuum/compact an arbitrary directory.
    val segs = table.split("\\.", -1)
    segs.foreach { seg =>
      if (seg.isEmpty || seg == "." || seg == ".." ||
          seg.contains('/') || seg.contains('\\'))
        throw new IllegalArgumentException(
          s"invalid table identifier segment '$seg' in '$table'")
    }
    val path = Paths.get(root, segs: _*).normalize().toString
    if (!Paths.get(path).startsWith(Paths.get(root).normalize()))
      throw new IllegalArgumentException(s"table '$table' escapes catalog root")
    if (ManifestFileSink.manifests(path).isEmpty)
      throw new IllegalArgumentException(s"no graft table at $table (resolved: $path)")
    if (op == "stable_manifest") return stableManifestScan(path)
    if (op == "snapshots") return snapshotsScan(path)
    if (op == "wap_stages") return wapStagesScan(path)
    if (op == "files") return filesScan(path)
    if (op == "snapshot_diff") return snapshotDiffScan(path, input)
    if (op == "constraints") return constraintsScan(path)
    if (op == "tag") return tagScan(path, input)
    if (op == "set_partition_spec") return setSpecScan(path, input)
    if (op == "untag") {
      val name = input.getUTF8String(1).toString
      val removed = ManifestFileSink.removeTag(path, name)
      return oneRowScan("untag",
        StructType(Seq(org.apache.spark.sql.types.StructField("removed",
          org.apache.spark.sql.types.BooleanType, nullable = false))),
        org.apache.spark.sql.catalyst.InternalRow(removed))
    }
    val affected: Int = op match {
      case "optimize" =>
        ManifestFileSink.optimize(
          org.apache.spark.sql.SparkSession.active, path,
          input.getUTF8String(1).toString,
          if (input.isNullAt(2)) 8 else input.getInt(2))
      case "zorder" =>
        ManifestFileSink.optimizeZOrder(
          org.apache.spark.sql.SparkSession.active, path,
          input.getUTF8String(1).toString.split(",").map(_.trim).toSeq,
          if (input.isNullAt(2)) 8 else input.getInt(2))
      case "repartition_table" =>
        ManifestFileSink.repartitionTable(
          org.apache.spark.sql.SparkSession.active, path,
          input.getUTF8String(1).toString.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq,
          if (input.isNullAt(2)) 8 else input.getInt(2))
      case "vacuum" =>
        val hours = if (input.isNullAt(1)) 168 else input.getInt(1)
        ManifestFileSink.vacuum(path, hours.toLong * 3600L * 1000L)
      case "compact"        => ManifestFileSink.compact(path)
      case "apply_deletes"  => ManifestFileSink.applyDeletes(path)
      case "migrate_schema" => ManifestFileSink.migrateSchema(path)
      case "wap_publish" =>
        ManifestFileSink.wapPublish(path, input.getUTF8String(1).toString)
      case "wap_discard" =>
        ManifestFileSink.wapDiscard(path, input.getUTF8String(1).toString)
      case "expire_snapshots" =>
        ManifestFileSink.expireSnapshots(path,
          if (input.isNullAt(1)) 2 else input.getInt(1))
      case "rollback" =>
        ManifestFileSink.rollbackTo(path, input.getUTF8String(1).toString)
    }
    val outSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("affected_files", IntegerType, nullable = false)))
    val scan: org.apache.spark.sql.connector.read.Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          Array(org.apache.spark.sql.catalyst.InternalRow(affected))
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft.$op result"
      }
    java.util.Collections.singletonList(scan).iterator()
  }

  /** `CALL graft.system.stable_manifest('tbl')` — the FINALITY handles
    * as one ops row: the newest published manifest (what a plain reader
    * sees), the newest FINAL one (what a change-feed consumer records
    * as its resume point — never past a live in-flight claim), and the
    * live pending-claim count explaining any gap between the two. */
  private def stableManifestScan(path: String)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    import org.apache.spark.sql.types.StringType
    val latest = ManifestFileSink.latestManifest(path)
    val stable = ManifestFileSink.stableManifest(path)
    val pending = ManifestFileSink.pendingClaimCount(path)
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("latest_manifest", StringType),
      org.apache.spark.sql.types.StructField("stable_manifest", StringType),
      org.apache.spark.sql.types.StructField("pending_claims", IntegerType,
        nullable = false)))
    def u(v: Option[String]) =
      v.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
    oneRowScan("stable_manifest", schema,
      org.apache.spark.sql.catalyst.InternalRow(u(latest), u(stable), pending))
  }

  private def oneRowScan(opName: String, outSchema: StructType,
      row: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    val scan: org.apache.spark.sql.connector.read.Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = Array(row)
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft.$opName result"
      }
    java.util.Collections.singletonList(scan).iterator()
  }

  /** `CALL graft.system.set_partition_spec(table => …, spec => 'cell' |
    * 'bucket(8,id)' | 'a,b')` — PARTITION-SPEC EVOLUTION without rewrite
    * (the Iceberg evolution contract): the declaration changes, the data
    * does not. Files written under the OLD spec stay exactly where they
    * are; NEW writes demux under the new spec; scans stay correct in the
    * mixed state because the partitioning report derives from per-FILE
    * proven claims, never from the declaration alone — one old-layout
    * file degrades the KeyGroupedPartitioning (Spark inserts the usual
    * exchanges) and refuses the metadata GROUP BY derivation, but
    * results never change. `repartition_table` is the paid rewrite that
    * restores the exchange-free properties; this call is the free
    * declaration step that makes new data land right immediately.
    * Validates every spec column against the stored schema. */
  private def setSpecScan(path: String, input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    import org.apache.spark.unsafe.types.UTF8String
    val spec = input.getUTF8String(1).toString.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    require(spec.nonEmpty, "spec must name at least one partition field")
    val schema = ManifestFileSink.storedSchema(path, None)
      .getOrElse(throw new IllegalStateException(s"no schema at $path"))
    spec.foreach { s =>
      val f = ManifestFileSink.parsePartField(s) // validates syntax
      if (!schema.fieldNames.contains(f.col)) throw new IllegalArgumentException(
        s"partition source column ${f.col} is not in the table schema")
    }
    ManifestFileSink.setPartitionColumns(path, spec)
    oneRowScan("set_partition_spec",
      StructType(Seq(
        org.apache.spark.sql.types.StructField("spec", StringType, nullable = false))),
      org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(spec.mkString(","))))
  }

  /** `CALL graft.system.tag(table => …, name => …[, version => '<seq>'])`
    * — pin the current (or a specific-seq) snapshot under a name;
    * `VERSION AS OF '<name>'` then reads it forever. Returns the pinned
    * manifest. Metadata-only: one control-file line, no data touched. */
  /** `CALL graft.system.wap_stages(table => ...)` — the staged (not yet
    * published) WAP commits: one row per stage id with its commit and
    * row counts. The operability view that makes a forgotten stage
    * visible instead of silently holding disk. */
  private def wapStagesScan(path: String)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    import org.apache.spark.unsafe.types.UTF8String
    val log = ManifestFileSink.Snapshot(path)
    val stageRows = log.stagedIds.map { id =>
      val ms = log.staged(id)
      val rows = ms.flatMap(_.entries).map(_.rows).sum
      org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(id), ms.size.toLong, rows)
    }.toArray
    val outSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("id", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_commits",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val scan: org.apache.spark.sql.connector.read.Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = stageRows
        override def readSchema(): StructType = outSchema
        override def description(): String = "graft.wap_stages result"
      }
    java.util.Collections.singletonList(scan).iterator()
  }

  private def tagScan(path: String, input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    import org.apache.spark.unsafe.types.UTF8String
    val name = input.getUTF8String(1).toString
    val version =
      if (input.numFields < 3 || input.isNullAt(2)) "" else input.getUTF8String(2).toString
    val ordered = ManifestFileSink.Snapshot.headers(path).published
    val manifest = version match {
      case "" =>
        ordered.lastOption.map(_.name)
          .getOrElse(throw new IllegalStateException(s"table at $path has no commits"))
      case v if v.forall(_.isDigit) =>
        ordered.find(_.meta.seq == v.toLong).map(_.name)
          .getOrElse(throw new IllegalArgumentException(
            s"no commit with seq $v (retired by compaction, or never published)"))
      case v => throw new IllegalArgumentException(
        s"version must be empty (current) or a seq number, got '$v'")
    }
    ManifestFileSink.setTag(path, name, manifest)
    oneRowScan("tag",
      StructType(Seq(
        org.apache.spark.sql.types.StructField("tag", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("manifest", StringType, nullable = false))),
      org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(name), UTF8String.fromString(manifest)))
  }

  /** `CALL graft.system.files(table => …)` — per-file metadata of the
    * CURRENT snapshot: rows, retracted-position count, and whether the
    * file carries zone-map stats / a sort attestation. The operability
    * companion to `snapshots`: what would a scan of this table touch. */
  private def filesScan(path: String)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    import org.apache.spark.unsafe.types.UTF8String
    val snap = ManifestFileSink.Snapshot(path)
    val dvs = snap.dvs
    // NB: must not be named `rows` — inside the anonymous LocalScan below,
    // `rows` resolves to the override itself and the tail-self-call
    // compiles into an infinite loop.
    // Shared latest-listing-per-file policy (advice-r13) — this view and
    // partitionRowCounts must never disagree on a re-listed entry.
    val fileRows = snap.latestEntries
      .map { case (f, n, e, _) =>
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(f), n,
          dvs.get(f).map(_.length.toLong).getOrElse(0L),
          e.stats.isDefined,
          e.stats.exists(_.contains(ManifestFileSink.SortKeyStatsIdx)))
      }.toArray
    val outSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("file", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_deleted",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("has_stats",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("sort_attested",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val scan: org.apache.spark.sql.connector.read.Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = fileRows
        override def readSchema(): StructType = outSchema
        override def description(): String = "graft.files result"
      }
    java.util.Collections.singletonList(scan).iterator()
  }

  /** `CALL graft.system.snapshot_diff(table, from_ref, to_ref)` — the
    * METADATA changelog between two snapshots, the question an
    * incremental consumer asks before deciding whether to re-read
    * ("what did commits (from, to] actually change"): one row per
    * (change, file) where change is `added` (file new in `to`, n_rows
    * = its row count), `removed` (file gone, n_rows = what it held at
    * `from`), or `dv_grew` (file in both but with more delete-vector
    * positions, n_rows = the delta). Refs are commit seqs or tag
    * names; empty = the current snapshot. Pure manifest arithmetic —
    * no data file is opened (the `files`-procedure discipline). The
    * DATA-level sibling is `q_table_diff`; this one answers from
    * metadata alone. */
  private def snapshotDiffScan(path: String,
      input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    import org.apache.spark.unsafe.types.UTF8String
    val log = ManifestFileSink.Snapshot(path)
    def refOf(i: Int): Option[String] =
      (if (input.isNullAt(i)) None
       else Some(input.getUTF8String(i).toString).filter(_.nonEmpty))
        .map(r => ManifestFileSink.resolveRef(log, r))
    val fromRef = refOf(1)
    val toRef = refOf(2)
    def entries(asOf: Option[String]): Map[String, Long] =
      log.at(asOf).latestEntries.map { case (f, n, _, _) => f -> n }.toMap
    def dvCounts(asOf: Option[String]): Map[String, Long] =
      log.at(asOf).dvs.map { case (f, a) => f -> a.length.toLong }
    val fromE = entries(fromRef)
    val toE = entries(toRef)
    val fromD = dvCounts(fromRef)
    val toD = dvCounts(toRef)
    val added = (toE.keySet -- fromE.keySet).toSeq.sorted
      .map(f => ("added", f, toE(f)))
    val removed = (fromE.keySet -- toE.keySet).toSeq.sorted
      .map(f => ("removed", f, fromE(f)))
    val dvGrew = (fromE.keySet & toE.keySet).toSeq.sorted
      .map(f => (f, toD.getOrElse(f, 0L) - fromD.getOrElse(f, 0L)))
      .filter(_._2 > 0)
      .map { case (f, d) => ("dv_grew", f, d) }
    val diffRows = (added ++ removed ++ dvGrew).sortBy(r => (r._1, r._2))
      .map { case (c, f, n) =>
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(c), UTF8String.fromString(f), n)
      }.toArray
    val outSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("change", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("file", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val scan: org.apache.spark.sql.connector.read.Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = diffRows
        override def readSchema(): StructType = outSchema
        override def description(): String = "graft.snapshot_diff result"
      }
    java.util.Collections.singletonList(scan).iterator()
  }

  /** `CALL graft.system.constraints(table => …)` — the table's declared
    * CHECK constraints as (name, predicate) rows. */
  private def constraintsScan(path: String)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    import org.apache.spark.unsafe.types.UTF8String
    val checkRows = ManifestFileSink.checkConstraints(path).map { case (n, s) =>
      org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(n), UTF8String.fromString(s))
    }.toArray
    val outSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("name", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("predicate", StringType, nullable = false)))
    val scan: org.apache.spark.sql.connector.read.Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = checkRows
        override def readSchema(): StructType = outSchema
        override def description(): String = "graft.constraints result"
      }
    java.util.Collections.singletonList(scan).iterator()
  }

  /** `CALL graft.system.snapshots(table => …)` — the table's commit
    * history as rows: (seq, manifest, n_files, n_rows, has_deletes) per
    * published manifest, oldest first. The time-travel companion: pick a
    * seq here, read it with `VERSION AS OF`. Metadata-only. */
  private def snapshotsScan(path: String)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    import org.apache.spark.unsafe.types.UTF8String
    val hist = ManifestFileSink.Snapshot(path).published.map { m =>
      org.apache.spark.sql.catalyst.InternalRow(
        m.meta.seq,
        UTF8String.fromString(m.name),
        m.entries.size.toLong,
        m.entries.map(_.rows).sum,
        m.hasDeleteVectors)
    }.toArray
    val outSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("manifest", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_files",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("has_deletes",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val scan: org.apache.spark.sql.connector.read.Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = hist
        override def readSchema(): StructType = outSchema
        override def description(): String = "graft.snapshots result"
      }
    java.util.Collections.singletonList(scan).iterator()
  }
}

private[sources] object GraftProcedure {
  val Names: Seq[String] =
    Seq("optimize", "zorder", "repartition_table", "vacuum", "compact",
      "apply_deletes", "migrate_schema", "snapshots", "files",
      "snapshot_diff", "constraints", "tag", "untag", "set_partition_spec",
      "wap_publish", "wap_discard", "wap_stages", "expire_snapshots",
      "rollback", "stable_manifest")
}
