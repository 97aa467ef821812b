package graft.catalog

import graft.model._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** A catalogued table: name, physical location, format, schema, partition
  * keys. The Spark analog of a Glue table entry (SURVEY.md §1.1; reference:
  * generate_queries.py:264-285, data_mappers/handlers.py:159-178).
  */
final case class TableDef(
    name: String,
    location: String,
    format: DataFormat,
    schema: StructType,
    partitionKeys: Seq[String] = Nil,
    serdeLib: Option[String] = None,
    serdeParams: Map[String, String] = Map.empty)

object Catalog {

  /** Identifier-column type allow-list (reference:
    * generate_queries.py:39-50 — bigint, char, decimal, double, float, int,
    * smallint, string, tinyint, varchar + decimal(p,s)).
    */
  def isAllowedIdentifierType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case FloatType | DoubleType                        => true
    case StringType | CharType(_) | VarcharType(_)     => true
    case _: DecimalType                                => true
    case _                                             => false
  }

  /** Resolve a dot-path identifier against a schema, enforcing the
    * reference's nesting rules (generate_queries.py:376-400,477-478):
    * struct children CAN be identifiers; anything under array/map can NOT.
    * Resolution is case-insensitive at every level (the reference's Glue
    * catalog lowercases names; parquet_handler.py:24-33).
    *
    * @return the leaf DataType
    * @throws IllegalArgumentException if the path is missing, crosses an
    *         array/map, or the leaf type is not on the allow-list
    */
  def resolveIdentifier(schema: StructType, dotPath: String): DataType = {
    val parts = dotPath.split('.')
    var current: DataType = schema
    parts.zipWithIndex.foreach { case (p, i) =>
      current match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(p)) match {
            case Some(f) => current = f.dataType
            case None =>
              throw new IllegalArgumentException(
                s"Column '$dotPath' not found (missing segment '$p')")
          }
        case _: ArrayType | _: MapType =>
          throw new IllegalArgumentException(
            s"Column '$dotPath' crosses an array/map at segment ${i - 1}: " +
              "identifiers must nest through structs only")
        case other =>
          throw new IllegalArgumentException(
            s"Column '$dotPath' descends into non-struct type $other")
      }
    }
    current match {
      case _: ArrayType | _: MapType | _: StructType =>
        throw new IllegalArgumentException(
          s"Column '$dotPath' is not a scalar identifier ($current)")
      case leaf if !isAllowedIdentifierType(leaf) =>
        throw new IllegalArgumentException(
          s"Column '$dotPath' has unsupported identifier type $leaf")
      case leaf => leaf
    }
  }

  /** Validate a mapper against its table (reference:
    * data_mappers/handlers.py:109-146): partition keys must exist, every
    * identifier column must resolve, formats on the allow-list (enforced by
    * the DataFormat ADT).
    */
  def validateMapper(mapper: DataMapper, table: TableDef): Unit = {
    val missingPk = mapper.partitionKeys.filterNot(table.partitionKeys.contains)
    require(missingPk.isEmpty, s"Unknown partition keys: $missingPk")
    val badFilter =
      mapper.partitionFilter.keys.filterNot(table.partitionKeys.contains)
    require(badFilter.isEmpty,
      s"Partition filter on non-partition keys: ${badFilter.toSeq}")
    require(mapper.columns.nonEmpty, "Mapper needs at least one column")
    mapper.columns.foreach(c => resolveIdentifier(table.schema, c))
    validateSerde(table)
  }

  /** Hive SerDe registrations the reference accepts
    * (data_mappers/handlers.py:24-27). */
  val ParquetHiveSerde =
    "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
  val JsonHiveSerde = "org.apache.hive.hcatalog.data.JsonSerDe"
  val JsonOpenxSerde = "org.openx.data.jsonserde.JsonSerDe"
  val SupportedSerdeLibs: Set[String] =
    Set(ParquetHiveSerde, JsonHiveSerde, JsonOpenxSerde)

  /** SerDe registration rules (data_mappers/handlers.py:122-145): the lib
    * must be supported AND consistent with the declared format, and an
    * OpenX JSON table must not be registered with options the row-level
    * rewrite cannot honor — `ignore.malformed.json=TRUE` (the rewrite
    * fails loudly on a bad line rather than silently dropping it),
    * `dots.in.keys=TRUE` (dot paths address NESTING), or any
    * `mapping.*` column rename (the raw-line passthrough preserves
    * original keys). A TableDef with no serdeLib is the ADT-only
    * registration path, always valid. */
  def validateSerde(table: TableDef): Unit = table.serdeLib.foreach { lib =>
    require(SupportedSerdeLibs.contains(lib),
      "The format for the specified table is not supported. The SerDe " +
        s"lib must be one of ${SupportedSerdeLibs.mkString(", ")}")
    val formatOk = table.format match {
      case DataFormat.Parquet => lib == ParquetHiveSerde
      case DataFormat.JsonLines => lib == JsonHiveSerde || lib == JsonOpenxSerde
    }
    require(formatOk,
      s"SerDe lib $lib does not match declared format ${table.format}")
    if (lib == JsonOpenxSerde) {
      Seq("ignore.malformed.json", "dots.in.keys").foreach { p =>
        // Locale.ROOT: config-value comparison, not linguistic case
        // ("true" happens to survive a tr-TR uppercase, but the
        // contract must not hinge on which letters the value
        // contains; DefaultLocaleSpec pins it)
        require(!table.serdeParams.get(p)
            .map(_.toUpperCase(java.util.Locale.ROOT))
            .contains("TRUE"),
          s"The parameter $p cannot be TRUE for SerDe library $lib")
      }
      require(!table.serdeParams.keys.exists(_.startsWith("mapping.")),
        s"Column mappings are not supported for SerDe library $lib")
    }
  }

  /** Build a [[TableDef]] from Glue-style column type STRINGS — the
    * reference ingests Glue `Columns: [{Name, Type}]` entries carrying
    * Hive type-language strings (generate_queries.py:403-480) and never
    * needs a data file to know a table's shape. This is the
    * catalog-style registration path for declared-schema tables (JSON
    * exports, empty locations, schema-first pipelines) — no parquet
    * footer borrow required.
    *
    * Each type parses via Spark's own DDL parser (`DataType.fromDDL`),
    * which accepts the Hive type language Glue stores: `bigint`,
    * `varchar(n)`, `decimal(p,s)`, `array<...>`, `map<...,...>` and
    * nested `struct<...>` identifiers. The resulting TableDef is
    * SerDe-validated like every other registration. */
  def tableFromDdl(name: String, location: String, format: DataFormat,
                   columns: Seq[(String, String)],
                   partitionKeys: Seq[String] = Nil,
                   serdeLib: Option[String] = None,
                   serdeParams: Map[String, String] = Map.empty)
      : TableDef = {
    require(columns.nonEmpty, s"table $name needs at least one column")
    val schema = StructType(columns.map { case (n, ddl) =>
      StructField(n, parseDdlType(ddl))
    })
    val t = TableDef(name, location, format, schema, partitionKeys,
      serdeLib, serdeParams)
    validateSerde(t)
    t
  }

  /** Parse one Hive/Glue type string to a Spark DataType (SURVEY.md
    * §1.2: `DataType.fromDDL` covers the Glue type language, no custom
    * parser needed). `char(n)`/`varchar(n)` normalize to `string` at
    * every nesting level: Spark ACCEPTS them from the parser but
    * REJECTS them at read time (`DataFrameReader.schema` →
    * `failIfHasCharVarchar`, "char/varchar type can only be used in
    * the table schema") — exactly how Athena treats a Glue varchar for
    * scan purposes, and the reference's own type allow-list folds
    * char/varchar into the string family (generate_queries.py:39-50).
    */
  def parseDdlType(ddl: String): DataType = {
    def destring(dt: DataType): DataType = dt match {
      case CharType(_) | VarcharType(_) => StringType
      case st: StructType =>
        StructType(st.fields.map(f => f.copy(dataType = destring(f.dataType))))
      case ArrayType(et, n) => ArrayType(destring(et), n)
      case MapType(k, v, n) => MapType(destring(k), destring(v), n)
      case other => other
    }
    try destring(DataType.fromDDL(ddl))
    catch {
      case e: Exception =>
        throw new IllegalArgumentException(
          s"Unparseable column type '$ddl': ${e.getMessage}", e)
    }
  }

  /** No two mappers may cover nested/equal locations (reference:
    * data_mappers/handlers.py:118-121,148-156). */
  def checkNoOverlap(mappers: Seq[(DataMapper, TableDef)]): Unit = {
    def norm(l: String) = if (l.endsWith("/")) l else l + "/"
    for {
      (m1, t1) <- mappers; (m2, t2) <- mappers if m1.id < m2.id
    } {
      val (a, b) = (norm(t1.location), norm(t2.location))
      require(!a.startsWith(b) && !b.startsWith(a),
        s"Mappers ${m1.id} and ${m2.id} cover overlapping locations")
    }
  }
}

/** Directory-backed catalog over the driver testdata layout
  * (`<root>/<table>.parquet`), with schemas read from the files themselves.
  */
final class Catalog(spark: SparkSession, root: String) {
  private val cache = scala.collection.concurrent.TrieMap.empty[String, TableDef]

  def table(name: String): TableDef = cache.getOrElseUpdate(name, {
    val loc = s"$root/$name.parquet"
    val schema = spark.read.parquet(loc).schema
    TableDef(name, loc, DataFormat.Parquet, schema)
  })

  /** Register an explicit table definition (e.g. a JSON-lines export). */
  def register(t: TableDef): Unit = cache.put(t.name, t)
}

object CatalogPartitions {
  import org.apache.spark.sql.functions.col

  /** Enumerate a Hive-partitioned table's partition-value combinations —
    * the Glue `get_partitions` analog (SURVEY.md §2.1 S4; reference:
    * generate_queries.py:264-285 paginated partition enumeration, and
    * :227-246 one query per combination). The Spark engine needs the list
    * only for reporting/scoping: the scan itself prunes via
    * [[graft.find.Finder.partitionPredicate]] without per-partition
    * query fan-out.
    *
    * Pure FILESYSTEM listing of the `key=value` directory tree — zero
    * data/footer reads, like the reference pages Glue metadata without
    * touching objects. A 100k-partition table enumerates from directory
    * names alone; a data scan (`.select(keys).distinct()`) would read
    * every footer and row group. */
  def partitionValues(spark: SparkSession, table: TableDef)
      : Seq[Map[String, String]] = {
    if (table.partitionKeys.isEmpty) return Nil
    val root = new org.apache.hadoop.fs.Path(table.location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: org.apache.hadoop.fs.Path, keys: List[String],
             acc: Map[String, String]): Seq[Map[String, String]] =
      keys match {
        case Nil => Seq(acc)
        case k :: rest =>
          fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
            val name = st.getPath.getName
            val i = name.indexOf('=')
            // partition keys match case-insensitively (F4), values keep
            // Hive's path escaping reversed
            if (i <= 0 || !name.substring(0, i).equalsIgnoreCase(k)) Nil
            else walk(st.getPath, rest, acc + (k ->
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .unescapePathName(name.substring(i + 1))))
          }
      }
    walk(root, table.partitionKeys.toList, Map.empty)
  }
}
