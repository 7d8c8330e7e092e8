package graft.sinks

import graft.formats.AvroCodec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** WIRE-FORMAT Apache Iceberg table metadata (public spec:
  * iceberg.apache.org/spec — format-version 2; reference sink:
  * crates/arroyo-connectors/src/filesystem/sink/iceberg/mod.rs
  * fast-append commits with per-epoch transaction ids), written and read
  * with no Iceberg jars: the Avro manifest files ride the repo's own
  * [[graft.formats.AvroCodec]] (the r8-"blocker" this closes), the JSON
  * table metadata rides Jackson, and the data files are Spark's own
  * parquet.
  *
  * Layout: the HadoopCatalog filesystem-table form —
  * `metadata/v<N>.metadata.json` versions claimed atomically
  * (hard-link put-if-absent, CREATE_NEW fallback) + `version-hint.text`
  * pointer, data under `data/` (hive-style `col=val/` dirs for
  * partitioned tables; columns stay in the files, per Iceberg's data
  * layout).
  *
  * Protocol subset (append-only fast-append sink, like the reference's,
  * plus the two maintenance commits):
  *   - every append commits ONE snapshot: new `snapshot-id`,
  *     `sequence-number` = last-sequence-number + 1, a NEW manifest
  *     (avro `manifest_entry` records, spec field-ids, status=1 ADDED,
  *     explicit sequence numbers) and a manifest LIST
  *     (`snap-<id>-1-<uuid>.avro`, spec `manifest_file` schema) carrying
  *     every prior manifest forward — the fast-append shape
  *   - manifest entries carry the spec's per-column METRICS maps
  *     (`value_counts` 109, `null_value_counts` 110, `lower_bounds` 125,
  *     `upper_bounds` 128 — avro key/value-array maps with spec
  *     field-ids), harvested free from the parquet footers; the read
  *     path prunes files against them (`scanFilter`), the 100 TB
  *     file-skipping that is Iceberg's point
  *   - small manifests MERGE on append once the list exceeds
  *     `mergeMinCount` (Iceberg's `commit.manifest.min-count-to-merge`):
  *     sub-`mergeTargetBytes` manifests coalesce into one EXISTING
  *     manifest, so the manifest list stays O(large manifests), not
  *     O(commits) — amortized geometric, same trick as compacting log
  *     checkpoints
  *   - exactly-once: the snapshot `summary` carries the writer's
  *     transaction id (`graft.txn.app`/`graft.txn.version`, the
  *     reference's `arroyo.commit-id` contract at mod.rs:40); a replayed
  *     (app, version) is a NO-OP. [[expireSnapshots]] preserves expired
  *     snapshots' high-water marks in table `properties`, so replay
  *     stays a no-op across retention
  *   - commit races: losers re-read `v<N>.metadata.json`, rebuild their
  *     snapshot at the next sequence number, retry — optimistic
  *     concurrency, O(1) in data size per commit
  *   - [[rewriteDataFiles]] (the OPTIMIZE verb) compacts small data
  *     files per partition and commits a `replace` snapshot
  *     (added + surviving EXISTING entries, one fresh manifest list);
  *     concurrent-replace losers abort when any replaced file is no
  *     longer live (delta-spark's ConcurrentDeleteReadException shape)
  *   - [[expireSnapshots]] (the VACUUM verb) drops snapshots past
  *     retention from the metadata and deletes the manifest lists,
  *     manifests and data files ONLY they referenced
  *   - time travel: `snapshot_id` reads any retained snapshot (its
  *     manifest list is immutable once written)
  *
  * Third-party-reader interop is protocol-derived but unverifiable in
  * this container (no iceberg jars / pyiceberg — same documented ceiling
  * as the Delta sink).
  */
object IcebergLog {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val MetaRe = """v(\d+)\.metadata\.json""".r
  // catalog-managed metadata naming (iceberg-java / pyiceberg under
  // REST/hive/glue catalogs): `NNNNN-<uuid>.metadata.json` — the
  // authoritative "current" pointer lives in the CATALOG; a filesystem
  // reader takes the highest version and refuses ambiguity loudly
  private val MetaCatalogRe = """(\d+)-[0-9a-fA-F-]+\.metadata\.json""".r

  /** Merge small manifests once the list is this long (Iceberg's
    * `commit.manifest.min-count-to-merge` default is 100; ours is lower
    * because fast-append manifests here are one-per-micro-batch small).
    */
  private val mergeMinCount = 8

  /** Manifests at or above this size are "large" and never rewritten by
    * the append-path merge (Iceberg's `commit.manifest.target-size-bytes`
    * is 8 MiB).
    */
  private val mergeTargetBytes = 8L * 1024 * 1024

  private def metaDir(table: String): Path = Paths.get(table, "metadata")

  /** Metadata path strings from third-party writers are absolute
    * `file:` URIs (iceberg-java records fully-qualified locations);
    * ours are plain absolute paths. Resolve either to a local Path —
    * %XX-decoded, '+' literal (the same rule as hive dir decoding).
    */
  private[graft] def localPath(p: String): Path = {
    if (!p.startsWith("file:")) return Paths.get(p)
    val rest0 = p.stripPrefix("file:")
    // file:///abs and file:/abs both mean local /abs; a non-empty
    // authority (file://host/...) is not a local path — fail loudly
    val rest =
      if (rest0.startsWith("///")) rest0.stripPrefix("//")
      else if (rest0.startsWith("//")) sys.error(
        s"iceberg: $p has a remote authority; this engine reads local tables")
      else rest0
    Paths.get(java.net.URLDecoder.decode(rest.replace("+", "%2B"), "UTF-8"))
  }

  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }
  private def walkDir(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  // ── spec schemas (avro wire shape ⟺ StructType drives the codec) ─────

  /** `field-id` (+ optional alias names) as StructField metadata — what
    * [[AvroCodec.projectValue]]'s name-resolving decode binds by: the
    * id is the spec's STABLE identity for a field; aliases cover known
    * historical spellings from writers that tag no ids.
    */
  private def idMeta(id: Int, aliases: Seq[String] = Seq.empty): Metadata = {
    val b = new MetadataBuilder().putLong("field-id", id.toLong)
    if (aliases.nonEmpty) b.putStringArray("aliases", aliases.toArray)
    b.build()
  }

  // manifest_file (the manifest LIST's entry record), v2 required
  // fields. Fields 504-506 carry iceberg-java's spellings as aliases:
  // the spec RENAMED added_data_files_count → added_files_count (etc.)
  // but the java writer kept the old names — the ids are the identity.
  private val manifestFileType = StructType(Seq(
    StructField("manifest_path", StringType, nullable = false, idMeta(500)),
    StructField("manifest_length", LongType, nullable = false, idMeta(501)),
    StructField("partition_spec_id", IntegerType, nullable = false, idMeta(502)),
    StructField("content", IntegerType, nullable = false, idMeta(517)),
    StructField("sequence_number", LongType, nullable = false, idMeta(515)),
    StructField("min_sequence_number", LongType, nullable = false, idMeta(516)),
    StructField("added_snapshot_id", LongType, nullable = false, idMeta(503)),
    StructField("added_files_count", IntegerType, nullable = false,
      idMeta(504, Seq("added_data_files_count"))),
    StructField("existing_files_count", IntegerType, nullable = false,
      idMeta(505, Seq("existing_data_files_count"))),
    StructField("deleted_files_count", IntegerType, nullable = false,
      idMeta(506, Seq("deleted_data_files_count"))),
    StructField("added_rows_count", LongType, nullable = false, idMeta(512)),
    StructField("existing_rows_count", LongType, nullable = false, idMeta(513)),
    StructField("deleted_rows_count", LongType, nullable = false, idMeta(514))))

  private val manifestFileIds = Seq(500, 501, 502, 517, 515, 516, 503, 504, 505, 506, 512, 513, 514)

  // spec maps ride avro as key/value record arrays (logicalType "map");
  // items are NON-NULL records, per the spec's k*_v* shape
  private def kvMapType(vt: DataType): ArrayType = ArrayType(StructType(Seq(
    StructField("key", IntegerType, nullable = false),
    StructField("value", vt, nullable = false))), containsNull = false)

  /** `withEqIds = false` is the pre-r12 wire shape (no `equality_ids`);
    * [[readEntries]] picks it when decoding a manifest whose embedded
    * writer schema lacks the field, then pads — every caller above the
    * decode sees the current 11-field `data_file` struct.
    */
  private[graft] def manifestEntryType(partType: StructType,
      withEqIds: Boolean = true,
      /** v3 deletion-vector fields (143-145) — projection-only: this
        * writer never emits them, but a v3 reader must bind them.
        */
      withDv: Boolean = false): StructType = StructType(Seq(
    StructField("status", IntegerType, nullable = false, idMeta(0)),
    StructField("snapshot_id", LongType, nullable = true, idMeta(1)),
    StructField("sequence_number", LongType, nullable = true, idMeta(3)),
    StructField("file_sequence_number", LongType, nullable = true, idMeta(4)),
    StructField("data_file", StructType(Seq(
      StructField("content", IntegerType, nullable = false, idMeta(134)),
      StructField("file_path", StringType, nullable = false, idMeta(100)),
      StructField("file_format", StringType, nullable = false, idMeta(101)),
      StructField("partition", partType, nullable = false, idMeta(102)),
      StructField("record_count", LongType, nullable = false, idMeta(103)),
      StructField("file_size_in_bytes", LongType, nullable = false, idMeta(104)),
      StructField("value_counts", kvMapType(LongType), nullable = true, idMeta(109)),
      StructField("null_value_counts", kvMapType(LongType), nullable = true, idMeta(110)),
      StructField("lower_bounds", kvMapType(BinaryType), nullable = true, idMeta(125)),
      StructField("upper_bounds", kvMapType(BinaryType), nullable = true, idMeta(128))) ++
      // spec data_file field 135: REQUIRED on content=2 (equality
      // delete) entries — the field ids the delete matches on
      (if (withEqIds) Seq(StructField("equality_ids",
        ArrayType(IntegerType, containsNull = false), nullable = true, idMeta(135)))
       else Seq.empty) ++
      (if (withDv) Seq(
        StructField("referenced_data_file", StringType, nullable = true, idMeta(143)),
        StructField("content_offset", LongType, nullable = true, idMeta(144)),
        StructField("content_size_in_bytes", LongType, nullable = true, idMeta(145)))
       else Seq.empty)),
      nullable = false, idMeta(2))))

  private def avroPrim(dt: DataType): String = dt match {
    case BooleanType => "\"boolean\""
    case IntegerType => "\"int\""
    case LongType => "\"long\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case StringType => "\"string\""
    case BinaryType => "\"bytes\""
    case TimestampType => """{"type":"long","logicalType":"timestamp-micros"}"""
    case DateType => """{"type":"int","logicalType":"date"}"""
    case other => throw new IllegalArgumentException(s"iceberg: unsupported type $other")
  }

  /** Spec-mandated field-id props ride a handwritten schema; the wire
    * shape (order, unions) matches the StructTypes above exactly.
    */
  private def manifestFileSchemaJson: String = {
    val fields = manifestFileType.fields.zip(manifestFileIds).map { case (f, id) =>
      s"""{"name":"${f.name}","type":${avroPrim(f.dataType)},"field-id":$id}"""
    }
    s"""{"type":"record","name":"manifest_file","fields":[${fields.mkString(",")}]}"""
  }

  // spec map field: ["null", array<record{key,value}>] with k/v field-ids
  private def kvMapSchemaJson(name: String, fieldId: Int, kId: Int, vId: Int,
      vType: String): String =
    s"""{"name":"$name","type":["null",{"type":"array","logicalType":"map",
       |"items":{"type":"record","name":"k${kId}_v$vId","fields":[
       |{"name":"key","type":"int","field-id":$kId},
       |{"name":"value","type":$vType,"field-id":$vId}]}}],
       |"default":null,"field-id":$fieldId}""".stripMargin.replace("\n", "")

  private[graft] def manifestEntrySchemaJson(partType: StructType,
      withEqIds: Boolean = true,
      /** v3 deletion-vector triple (spec fields 143-145) — emitted on
        * DELETES manifests of format-version-3 tables, whose position
        * deletes are puffin DVs. */
      withDv: Boolean = false): String = {
    val eqIdsField = if (!withEqIds) "" else
      """,{"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}"""
    val dvFields = if (!withDv) "" else
      """,{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143}""" +
      ""","{"name":"content_offset","type":["null","long"],"default":null,"field-id":144}""" +
      ""","{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
    val partFields = partType.fields.zipWithIndex.map { case (f, i) =>
      s"""{"name":"${f.name}","type":["null",${avroPrim(f.dataType)}],"default":null,"field-id":${1000 + i}}"""
    }
    s"""{"type":"record","name":"manifest_entry","fields":[
       |{"name":"status","type":"int","field-id":0},
       |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
       |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
       |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
       |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
       |{"name":"content","type":"int","field-id":134},
       |{"name":"file_path","type":"string","field-id":100},
       |{"name":"file_format","type":"string","field-id":101},
       |{"name":"partition","type":{"type":"record","name":"r102","fields":[${partFields.mkString(",")}]},"field-id":102},
       |{"name":"record_count","type":"long","field-id":103},
       |{"name":"file_size_in_bytes","type":"long","field-id":104},
       |${kvMapSchemaJson("value_counts", 109, 119, 120, "\"long\"")},
       |${kvMapSchemaJson("null_value_counts", 110, 121, 122, "\"long\"")},
       |${kvMapSchemaJson("lower_bounds", 125, 126, 127, "\"bytes\"")},
       |${kvMapSchemaJson("upper_bounds", 128, 129, 130, "\"bytes\"")}$eqIdsField$dvFields
       |]},"field-id":2}]}""".stripMargin.replace("\n", "")
  }

  // ── Iceberg table schema JSON ⟺ StructType ───────────────────────────

  private def icebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case TimestampType => "timestamptz" // Spark TimestampType is zone-adjusted
    case DateType => "date"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"iceberg sink: unsupported primitive column type $other")
  }

  private def sparkType(t: String): DataType = t match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "binary" => BinaryType
    case "timestamptz" | "timestamp" => TimestampType
    case "date" => DateType
    case d if d.startsWith("decimal") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case other => throw new IllegalArgumentException(s"iceberg: unsupported type $other")
  }

  /** Spark type of an iceberg schema TYPE node — a quoted primitive
    * string, or the spec's nested object forms (`struct`/`list`/`map`,
    * r16). `element-required`/`value-required` default to optional when
    * absent; a `required` nested field round-trips as non-nullable.
    */
  private def sparkTypeOf(n: com.fasterxml.jackson.databind.JsonNode): DataType =
    if (n.isTextual) sparkType(n.asText())
    else n.get("type").asText() match {
      case "struct" =>
        val fs = n.get("fields")
        StructType((0 until fs.size()).map { i =>
          val f = fs.get(i)
          StructField(f.get("name").asText(), sparkTypeOf(f.get("type")),
            nullable = !f.get("required").asBoolean())
        })
      case "list" =>
        ArrayType(sparkTypeOf(n.get("element")),
          containsNull = !Option(n.get("element-required")).exists(_.asBoolean()))
      case "map" =>
        MapType(sparkTypeOf(n.get("key")), sparkTypeOf(n.get("value")),
          valueContainsNull = !Option(n.get("value-required")).exists(_.asBoolean()))
      case other => throw new IllegalArgumentException(
        s"iceberg: unsupported nested type $other")
    }

  /** Iceberg JSON VALUE for `dt` rooted at `path`: primitives quote,
    * nested types emit the spec's object forms with their ids resolved
    * from the PATH-keyed id map (`s.x`, `arr.element`, `m.key`,
    * `m.value` — [[fieldIdsFor]]'s dialect). A missing NESTED id is a
    * caller bug (the mint walks every path), never a positional guess —
    * guessing here would re-bind parquet data under evolution.
    */
  private def icebergTypeJson(dt: DataType, path: String,
      ids: Map[String, Int]): String = {
    def idOf(p: String): Int = ids.getOrElse(p, sys.error(
      s"iceberg: no declared/minted field id for nested path $p"))
    dt match {
      case st: StructType =>
        val fs = st.fields.map { f =>
          val p = s"$path.${f.name}"
          s"""{"id":${idOf(p)},"name":"${f.name}","required":${!f.nullable},""" +
            s""""type":${icebergTypeJson(f.dataType, p, ids)}}"""
        }
        s"""{"type":"struct","fields":[${fs.mkString(",")}]}"""
      case at: ArrayType =>
        val p = s"$path.element"
        s"""{"type":"list","element-id":${idOf(p)},""" +
          s""""element":${icebergTypeJson(at.elementType, p, ids)},""" +
          s""""element-required":${!at.containsNull}}"""
      case mt: MapType =>
        val (kp, vp) = (s"$path.key", s"$path.value")
        s"""{"type":"map","key-id":${idOf(kp)},""" +
          s""""key":${icebergTypeJson(mt.keyType, kp, ids)},""" +
          s""""value-id":${idOf(vp)},""" +
          s""""value":${icebergTypeJson(mt.valueType, vp, ids)},""" +
          s""""value-required":${!mt.valueContainsNull}}"""
      case prim => "\"" + icebergType(prim) + "\""
    }
  }

  private def schemaJson(schema: StructType, schemaId: Int = 0,
      ids: Map[String, Int] = Map.empty): String = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${ids.getOrElse(f.name, i + 1)},"name":"${f.name}","required":${!f.nullable},"type":${icebergTypeJson(f.dataType, f.name, ids)}}"""
    }
    s"""{"type":"struct","schema-id":$schemaId,"fields":[${fields.mkString(",")}]}"""
  }

  /** PATH-keyed field ids a schema JSON node declares: top-level names
    * plus every nested `s.x` / `arr.element` / `m.key` / `m.value`
    * path (r16). The spec's column identity at every depth — parquet
    * stamps, footer metrics, evolution and rename/drop all key off
    * these, never positions.
    */
  private def pathIdsOf(n: com.fasterxml.jackson.databind.JsonNode): Map[String, Int] = {
    val out = Map.newBuilder[String, Int]
    def walkType(path: String, t: com.fasterxml.jackson.databind.JsonNode): Unit =
      if (!t.isTextual) t.get("type").asText() match {
        case "struct" =>
          val fs = t.get("fields")
          (0 until fs.size()).foreach { i =>
            val f = fs.get(i)
            val p = s"$path.${f.get("name").asText()}"
            out += p -> f.get("id").asInt()
            walkType(p, f.get("type"))
          }
        case "list" =>
          out += s"$path.element" -> t.get("element-id").asInt()
          walkType(s"$path.element", t.get("element"))
        case "map" =>
          out += s"$path.key" -> t.get("key-id").asInt()
          walkType(s"$path.key", t.get("key"))
          out += s"$path.value" -> t.get("value-id").asInt()
          walkType(s"$path.value", t.get("value"))
        case _ => ()
      }
    val fs = n.get("fields")
    (0 until fs.size()).foreach { i =>
      val f = fs.get(i)
      val p = f.get("name").asText()
      out += p -> f.get("id").asInt()
      walkType(p, f.get("type"))
    }
    out.result()
  }

  /** Is `dt` free of list/map at every depth? Spark stamps
    * `parquet.field.id` from StructField metadata ONLY — a list
    * element / map key/value parquet node can never carry one, so
    * id-stamping such a schema would land a PARTIAL id set (a
    * spec-conformant id-resolving reader treats the id-less columns as
    * absent). Struct-only schemas stamp ids at every depth;
    * list/map-bearing schemas write NO ids and bind through the nested
    * name mapping instead ([[nameMappingJson]]).
    */
  private def idStampable(dt: DataType): Boolean = dt match {
    case st: StructType => st.fields.forall(f => idStampable(f.dataType))
    case _: ArrayType | _: MapType => false
    case _ => true
  }
  private def idStampable(schema: StructType): Boolean =
    schema.fields.forall(f => idStampable(f.dataType))

  /** `schema` with `parquet.field.id` metadata at EVERY struct depth
    * (caller guarantees [[idStampable]]). The external-row re-type pass
    * in [[withFieldIds]] lands these in the parquet footers.
    */
  private def withIdMetadata(schema: StructType,
      ids: Map[String, Int]): StructType = {
    def idOf(p: String): Long = ids.getOrElse(p, sys.error(
      s"iceberg: no field id for path $p")).toLong
    def conv(path: String, dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val p = s"$path.${f.name}"
        f.copy(dataType = conv(p, f.dataType),
          metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("parquet.field.id", idOf(p)).build())
      })
      case other => other
    }
    StructType(schema.fields.map { f =>
      f.copy(dataType = conv(f.name, f.dataType),
        metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong("parquet.field.id", idOf(f.name)).build())
    })
  }

  /** id → field of `schema` through the DECLARED ids (positional for
    * names outside them) — what equality-delete field ids resolve by.
    * Positions stop equalling ids after a RENAME/DROP, and third-party
    * layouts never promised they did.
    */
  private def fieldsById(schema: StructType,
      ids: Map[String, Int]): Map[Int, StructField] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      ids.getOrElse(f.name, i + 1) -> f }.toMap

  /** The PATH-keyed field ids `schema` commits/writes under: the
    * table's DECLARED ids where the path is known; fresh paths (append
    * evolution, new nested fields) mint sequentially past
    * `last-column-id`, never re-using a dropped id. Mint order is
    * LEVEL order per struct (a struct's direct fields before any
    * descent — iceberg-java's fresh-assignment shape), so fresh FLAT
    * tables keep the positional 1..n ids this engine has always
    * created, and nested ids land past every top-level id of their
    * minting round.
    */
  private def fieldIdsFor(cur: Option[Meta], schema: StructType): Map[String, Int] = {
    val known = cur.map(_.fieldIdPaths).getOrElse(Map.empty[String, Int])
    var next = cur.map(_.lastColumnId).getOrElse(0)
    val out = Map.newBuilder[String, Int]
    def mint(p: String): Unit = known.get(p) match {
      case Some(id) => out += p -> id
      case None => next += 1; out += p -> next
    }
    def walk(path: String, dt: DataType): Unit = dt match {
      case st: StructType =>
        st.fields.foreach(f => mint(s"$path.${f.name}"))
        st.fields.foreach(f => walk(s"$path.${f.name}", f.dataType))
      case at: ArrayType =>
        mint(s"$path.element"); walk(s"$path.element", at.elementType)
      case mt: MapType =>
        mint(s"$path.key"); walk(s"$path.key", mt.keyType)
        mint(s"$path.value"); walk(s"$path.value", mt.valueType)
      case _ => ()
    }
    schema.fields.foreach(f => mint(f.name))
    schema.fields.foreach(f => walk(f.name, f.dataType))
    val result = out.result()
    // a column literally named "a.b" beside a struct "a" with field "b"
    // would alias one PATH key to two fields — silent id corruption;
    // refuse the write instead (reads of such tables are unaffected)
    val minted = {
      var c = 0
      def count(dt: DataType): Unit = dt match {
        case st: StructType => c += st.size; st.fields.foreach(f => count(f.dataType))
        case at: ArrayType => c += 1; count(at.elementType)
        case mt: MapType => c += 2; count(mt.keyType); count(mt.valueType)
        case _ => ()
      }
      c += schema.size; schema.fields.foreach(f => count(f.dataType))
      c
    }
    require(result.size == minted,
      "iceberg: a dotted COLUMN NAME collides with a nested field path " +
        "(e.g. a column named \"a.b\" beside struct a.b) — the PATH-keyed " +
        "field ids would alias; rename the column before writing")
    result
  }

  private def schemaOf(n: com.fasterxml.jackson.databind.JsonNode): StructType =
    StructType((0 until n.get("fields").size()).map { i =>
      val f = n.get("fields").get(i)
      StructField(f.get("name").asText(), sparkTypeOf(f.get("type")),
        nullable = !f.get("required").asBoolean())
    })

  /** The data-file READ schema for `m`: when the schema history shows
    * any field id under more than one name — a third-party `RENAME
    * COLUMN` (metadata-only; old files keep the old parquet name) —
    * Spark must resolve columns BY FIELD ID (the spec's Column
    * Projection rule), or every pre-rename file silently reads null in
    * the renamed column. Ids are stamped (and the field-id read conf
    * armed) ONLY then: un-renamed tables keep the plain by-name read,
    * which also serves id-less files (the name-mapping fallback case).
    * An id-less file under a renamed schema fails loudly instead —
    * without per-file ids the old name is unknowable.
    */
  /** Does the schema history make by-NAME parquet binding unsafe?
    * Either direction does: a field id under more than one name (a
    * rename — old files carry the old name), or a NAME under more than
    * one id (drop + re-add — old files carry a same-named column whose
    * values belong to the DEAD field and must read as null). Pure —
    * [[dataReadSchema]] stamps ids only when this is true, and the
    * streaming source uses it as a refusal predicate.
    */
  /** Field ids whose NAME binding changed anywhere in the schema
    * history (a rename, or a name re-used for a different id after a
    * drop-and-readd) — the fields a by-name read of pre-change files
    * would silently misresolve.
    */
  private[graft] def renamedFieldIds(m: Meta): Set[Int] = {
    val arr = m.node.get("schemas")
    val nameOfId = scala.collection.mutable.Map.empty[Int, String]
    val idOfName = scala.collection.mutable.Map.empty[String, Int]
    val bad = scala.collection.mutable.Set.empty[Int]
    // full PATHS, not just top-level names (r16): renaming a struct
    // column moves every descendant's path, and a NESTED rename in a
    // third-party history is the same misresolution hazard one level
    // down — both force field-id reads
    for (si <- 0 until arr.size();
         (name, id) <- pathIdsOf(arr.get(si)).toSeq.sortBy(_._1)) {
      if (nameOfId.getOrElse(id, name) != name) bad += id
      if (idOfName.getOrElse(name, id) != id) { bad += id; bad += idOfName(name) }
      nameOfId(id) = name
      idOfName(name) = id
    }
    bad.toSet
  }

  private[graft] def renameInHistory(m: Meta): Boolean =
    renamedFieldIds(m).nonEmpty

  private[graft] def dataReadSchema(spark: SparkSession, m: Meta): StructType = {
    val renamed = renamedFieldIds(m)
    if (renamed.isEmpty) m.schema
    else {
      // list/map columns were never id-stamped (Spark cannot attach ids
      // below a list/map node — [[idStampable]]), so a rename history
      // makes their pre-rename files unreadable BY ID; refuse loudly
      // instead of binding what field-id resolution can't cover
      require(idStampable(m.schema),
        "iceberg: rename history on a table with list/map columns — data " +
          "files carry no complete parquet field ids below list/map nodes, " +
          "so by-id binding cannot resolve pre-rename files; rewrite the " +
          "table under its current names first")
      // PURE since r17: the two conf flips id-resolution reads need
      // (fieldId.read on, nested pruning off — Spark's pruning strips
      // the id metadata and silently nulls pre-rename files) used to
      // land here, session-globally; they now scope around each scan
      // via [[FencedScan]] at every read site that consumes this
      // stamped schema.
      withIdMetadata(m.schema, m.fieldIdPaths)
    }
  }

  /** Guard for hive-recovered partition reads of a RENAMED table
    * (r14 self-review): partition VALUES are not stored in the data
    * files — they recover from hive dir names, which field-id
    * resolution cannot fix. A live file whose path predates a
    * partition-column rename (its hive segment still carries the old
    * name) would silently read null partitions — refuse loudly and
    * point at the repair path: [[rewriteDataFiles]] re-lands every
    * file under the CURRENT names (it reads data columns by field id
    * and takes partition values from the manifests, not the paths).
    */
  private def requireResolvablePartitions(table: String, m: Meta,
      files: Seq[LiveFile]): Unit = {
    stalePartitionNamed(m, files).headOption
      .foreach { f => sys.error(
        s"$table: a partition column was " +
          s"renamed and live file ${f.path} predates the rename (its hive " +
          "path carries the old name; partition values cannot be resolved " +
          "by field id) — run OPTIMIZE (rewrite_data_files) to re-land " +
          "files under the current names, then read")
      }
  }

  /** CURRENT-schema fields carrying a non-null v3 `initial-default`
    * (spec: the value a reader returns for files written BEFORE the
    * field existed), each with the default decoded from the spec's
    * JSON single-value serialization. Temporal/decimal defaults stay
    * strings and cast at projection time.
    */
  private[graft] def initialDefaultFields(m: Meta): Seq[(StructField, Any)] =
    defaultFieldsOf(m, "initial-default")

  /** CURRENT-schema fields carrying a v3 `write-default` — the value a
    * WRITER must materialize when an append omits the column (r17).
    */
  private[graft] def writeDefaultFields(m: Meta): Seq[(StructField, Any)] =
    defaultFieldsOf(m, "write-default")

  private def defaultFieldsOf(m: Meta, attr: String): Seq[(StructField, Any)] = {
    if (m.formatVersion < 3) return Seq.empty
    val arr = m.node.get("schemas")
    val cur = (0 until arr.size()).map(arr.get)
      .find(_.get("schema-id").asInt() == m.currentSchemaId).getOrElse(arr.get(0))
    val fields = cur.get("fields")
    // a NESTED default (a field added inside a struct after data
    // existed) is invisible to the top-level fill below — filling
    // nothing would silently null it, so refuse outright
    def nestedDefault(t: com.fasterxml.jackson.databind.JsonNode): Boolean =
      !t.isTextual && (t.get("type").asText() match {
        case "struct" =>
          val fs = t.get("fields")
          (0 until fs.size()).exists { i =>
            val f = fs.get(i)
            Option(f.get(attr)).exists(!_.isNull) ||
              nestedDefault(f.get("type"))
          }
        case "list" => nestedDefault(t.get("element"))
        case "map" => nestedDefault(t.get("key")) || nestedDefault(t.get("value"))
        case _ => false
      })
    (0 until fields.size()).foreach { i =>
      if (nestedDefault(fields.get(i).get("type"))) sys.error(
        s"iceberg: a NESTED field carries $attr — this engine's " +
          "default fill resolves top-level columns only; refusing to " +
          "guess what it would silently null")
    }
    (0 until fields.size()).flatMap { i =>
      val f = fields.get(i)
      Option(f.get(attr)).filterNot(_.isNull).map { d =>
        val name = f.get("name").asText()
        val sf = m.schema(m.schema.fieldIndex(name))
        val v: Any = sf.dataType match {
          case BooleanType => d.asBoolean()
          case IntegerType => d.asInt()
          case LongType => d.asLong()
          case FloatType => d.asDouble().toFloat
          case DoubleType => d.asDouble()
          case StringType => d.asText()
          case _: DecimalType | DateType | TimestampType => d.asText()
          case other => sys.error(
            s"iceberg: $attr on type $other is not implemented")
        }
        (sf, v)
      }
    }
  }

  /** Does ANY of `files` need an initial-default fill on read? False
    * for a default-free table, and — the steady state that keeps the
    * streaming view zero-copy (r17) — for files that all POSTDATE the
    * default-carrying fields (their metrics prove the columns present,
    * so raw bytes are already the logical rows). Metadata-only;
    * unprovable presence fails loudly inside [[fillFieldsOf]].
    */
  private[graft] def anyFillNeeded(table: String, m: Meta,
      files: Seq[LiveFile]): Boolean = {
    val defaults = initialDefaultFields(m)
    defaults.nonEmpty && files.exists(f =>
      fillFieldsOf(table, m, defaults, m.fieldIds, f).nonEmpty)
  }

  /** Plain (no-deletes-applied) read of specific data files in LOGICAL
    * shape: field-id-stamped schema when the history shows a rename,
    * per-file initial-default FILLS (r17 — what lifted the streaming
    * view's refusal on default-carrying tables: add materialization
    * reads through this). Grouping is metadata-only, ≤2^|defaults|
    * groups.
    */
  private[graft] def readLiveFilesFilled(spark: SparkSession, table: String,
      m: Meta, files: Seq[LiveFile]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val readSchema = dataReadSchema(spark, m)
    val basePath = Paths.get(table, "data").toAbsolutePath.toString
    val cols = m.schema.fieldNames.map(col).toIndexedSeq
    fillGrouped(table, m, initialDefaultFields(m), files) { (group, _) =>
      if (group.isEmpty) None
      else Some(FencedScan(spark, readSchema) {
        spark.read.schema(readSchema).option("basePath", basePath)
          .parquet(group.map(_.path): _*).select(cols: _*)
      })
    }.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema))
  }

  /** The default-carrying fields `file` must FILL on read, resolved
    * with no silent wrong answer possible:
    *   - the file's column metrics carry the field id → the column is
    *     present in the file → no fill;
    *   - its adding snapshot's schema LACKED the field → the file
    *     cannot contain it → fill;
    *   - otherwise (schema had the field but metrics are suppressed)
    *     presence is unprovable from metadata → refuse loudly.
    */
  private def fillFieldsOf(table: String, m: Meta,
      defaults: Seq[(StructField, Any)], ids: Map[String, Int],
      file: LiveFile): Seq[(StructField, Any)] = {
    lazy val snapSchemaFieldIds: Set[Int] = {
      val sid = file.entryRow.get(1) match {
        case l: java.lang.Long => l.longValue()
        case _ => sys.error(s"$table: ${file.path} carries no snapshot id " +
          "in its manifest entry; initial-default presence cannot be proven")
      }
      val schemaId = m.snapshots.find(_.get("snapshot-id").asLong() == sid)
        .flatMap(s => Option(s.get("schema-id")).map(_.asInt()))
        .getOrElse(sys.error(s"$table: snapshot $sid records no schema-id; " +
          "initial-default presence cannot be proven"))
      val arr = m.node.get("schemas")
      val sn = (0 until arr.size()).map(arr.get)
        .find(_.get("schema-id").asInt() == schemaId)
        .getOrElse(sys.error(s"$table: schema $schemaId missing from history"))
      val sf = sn.get("fields")
      (0 until sf.size()).map(i => sf.get(i).get("id").asInt()).toSet
    }
    defaults.filter { case (sf, _) =>
      val id = ids.getOrElse(sf.name, sys.error(
        s"$table: no field id for default column ${sf.name}"))
      if (file.valueCounts.contains(id) || file.nullCounts.contains(id)) false
      else if (!snapSchemaFieldIds.contains(id)) true
      else sys.error(s"$table: cannot prove whether ${file.path} contains " +
        s"column '${sf.name}' (its snapshot's schema declares the field " +
        "but the file's metrics omit it) — refusing to guess between the " +
        "initial-default and the file's own values")
    }
  }

  /** Group `items` by the initial-default fills each must take, read
    * every group — the reader RECEIVES its group's fills so VALUE-based
    * delete matching can see logical rows (pass them to
    * [[readWithDeletes]]; readers without value matching may ignore
    * them) — fold the fills over each group's output (same-value no-op
    * where the reader already applied them), and union. ONE shared
    * implementation (r17 review) behind the batch read, the changelog,
    * the DML candidate reads, and the streaming view. ≤2^|defaults|
    * groups, metadata-only; deterministic group order.
    */
  private def fillGroupedBy[T](defaults: Seq[(StructField, Any)],
      items: Seq[T])(fillClass: T => Seq[String])(
      read: (Seq[T], Seq[(StructField, Any)]) => Option[DataFrame])
      : Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    if (defaults.isEmpty || items.isEmpty) read(items, Seq.empty)
    else items.groupBy(fillClass).toSeq.sortBy(_._1.mkString(","))
      .flatMap { case (fillNames, group) =>
        val fills = defaults.filter(x => fillNames.contains(x._1.name))
        read(group, fills).map(df => fills.foldLeft(df) {
          case (d0, (sf, v)) => d0.withColumn(sf.name, lit(v).cast(sf.dataType))
        })
      }.reduceOption(_ unionAll _)
  }

  /** [[fillGroupedBy]] keyed by [[fillFieldsOf]] over live files. */
  private def fillGrouped(table: String, m: Meta,
      defaults: Seq[(StructField, Any)], files: Seq[LiveFile])(
      read: (Seq[LiveFile], Seq[(StructField, Any)]) => Option[DataFrame])
      : Option[DataFrame] =
    fillGroupedBy(defaults, files)(f =>
      fillFieldsOf(table, m, defaults, m.fieldIds, f).map(_._1.name))(read)

  /** Live files whose hive path still carries a PRE-RENAME partition
    * segment: partition values recover from dir names, which field-id
    * resolution can't fix — these refuse reads and are OPTIMIZE's
    * repair victims.
    */
  private def stalePartitionNamed(m: Meta,
      files: Seq[LiveFile]): Seq[LiveFile] = {
    if (m.partitionColumns.isEmpty || files.isEmpty) return Seq.empty
    val renamed = renamedFieldIds(m)
    if (renamed.isEmpty) return Seq.empty
    val idOf = m.fieldIds
    val renamedParts = m.partitionColumns.filter(pc =>
      idOf.get(pc).exists(renamed.contains))
    if (renamedParts.isEmpty) return Seq.empty
    // exact hive SEGMENT match — a substring test would falsely pass
    // when the new name is a suffix of the old ("returnflag" -> "flag")
    def hasSegment(path: String, pc: String): Boolean =
      path.split('/').exists(_.startsWith(pc + "="))
    files.filter(f => renamedParts.exists(pc => !hasSegment(f.path, pc)))
  }

  // ── table metadata ───────────────────────────────────────────────────

  final case class Meta(version: Int, node: com.fasterxml.jackson.databind.JsonNode,
      /** The metadata FILE NAME this state was read from: `vN` form =
        * HadoopCatalog filesystem table (this engine's own layout),
        * `NNNNN-<uuid>` form = a catalog-managed third-party table
        * whose authoritative pointer lives in that catalog.
        */
      metaFileName: String = "") {
    def catalogManaged: Boolean =
      metaFileName.nonEmpty && !metaFileName.startsWith("v")
    def uuid: String = node.get("table-uuid").asText()
    def lastSeq: Long = node.get("last-sequence-number").asLong()
    def currentSchemaId: Int =
      Option(node.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    /** The CURRENT schema — `schemas` is an append-only history after
      * r10 evolution, selected by `current-schema-id`.
      */
    def schema: StructType = {
      val arr = node.get("schemas")
      val cur = currentSchemaId
      val n = (0 until arr.size()).map(arr.get)
        .find(s => s.get("schema-id").asInt() == cur).getOrElse(arr.get(0))
      schemaOf(n)
    }
    def partitionColumns: Seq[String] = {
      // select by default-spec-id, not position — r12 metadata lists the
      // unpartitioned delete spec alongside, and third-party metadata
      // orders its spec history arbitrarily. Each field resolves its
      // source-id through the CURRENT schema (r14): a spec field's own
      // `name` is frozen at spec creation, so after a column rename it
      // still carries the OLD name — the spec's source-id is the
      // identity, per the Iceberg spec's column-projection rule.
      val specs = node.get("partition-specs")
      val defId = Option(node.get("default-spec-id")).map(_.asInt()).getOrElse(0)
      val spec = (0 until specs.size()).map(specs.get)
        .find(_.get("spec-id").asInt() == defId).getOrElse(specs.get(0))
      val fields = spec.get("fields")
      lazy val nameById: Map[Int, String] = {
        val arr = node.get("schemas")
        val cur = (0 until arr.size()).map(arr.get)
          .find(_.get("schema-id").asInt() == currentSchemaId)
          .getOrElse(arr.get(0))
        val sf = cur.get("fields")
        (0 until sf.size()).map(i =>
          sf.get(i).get("id").asInt() -> sf.get(i).get("name").asText()).toMap
      }
      (0 until fields.size()).map { i =>
        val f = fields.get(i)
        Option(f.get("source-id")).map(_.asInt()).flatMap(nameById.get)
          .getOrElse(f.get("name").asText())
      }
    }
    /** The CURRENT schema's field type by the schema's own `id`
      * attribute (positional for this engine's schemas, arbitrary for
      * third-party ones) — what partition-spec `source-id`s reference.
      */
    def schemaFieldTypeById(id: Int): Option[DataType] = {
      val arr = node.get("schemas")
      val cur = currentSchemaId
      val n = (0 until arr.size()).map(arr.get)
        .find(s => s.get("schema-id").asInt() == cur).getOrElse(arr.get(0))
      val fields = n.get("fields")
      (0 until fields.size()).map(fields.get)
        .find(f => Option(f.get("id")).exists(_.asInt() == id))
        .map(f => sparkTypeOf(f.get("type")))
    }
    /** The CURRENT schema's declared field ids, name → id. These — not
      * schema POSITIONS — are the spec's column identity: after a
      * RENAME they persist under the new name, after a DROP the
      * survivors keep their ids (leaving a gap positions can't see).
      * Every id-keyed structure (parquet field ids, footer metrics,
      * stats pruning, spec source-ids, name mapping) must key off this.
      */
    def fieldIds: Map[String, Int] =
      fieldIdPaths.filter { case (p, _) => !p.contains('.') }
    /** PATH-keyed declared ids of the CURRENT schema — top-level names
      * plus nested `s.x` / `arr.element` / `m.key` / `m.value` paths
      * (r16). The full column-identity map every nested id-keyed
      * structure resolves through.
      */
    def fieldIdPaths: Map[String, Int] = {
      val arr = node.get("schemas")
      val cur = currentSchemaId
      val n = (0 until arr.size()).map(arr.get)
        .find(s => s.get("schema-id").asInt() == cur).getOrElse(arr.get(0))
      pathIdsOf(n)
    }
    /** High-water mark for field-id minting (`last-column-id`): a
      * DROPPED column's id must never be re-minted — a reader would
      * bind the dead column's parquet data to the new field. Nested
      * ids count (r16): a dropped struct retires its leaf ids too.
      */
    def lastColumnId: Int = math.max(
      Option(node.get("last-column-id")).map(_.asInt()).getOrElse(0),
      fieldIdPaths.values.foldLeft(0)(math.max))
    def formatVersion: Int =
      Option(node.get("format-version")).map(_.asInt()).getOrElse(1)
    /** v3 row-lineage counter (`next-row-id`, required in v3 metadata):
      * the first row id the NEXT snapshot's data files may claim.
      */
    def nextRowId: Long =
      Option(node.get("next-row-id")).map(_.asLong()).getOrElse(0L)
    def currentSnapshotId: Long = node.get("current-snapshot-id").asLong()
    /** Snapshot REFS (spec: branches and tags): name → (snapshot-id,
      * type). `main` is the current branch; third-party tags/branches
      * ride along and resolve for time travel by name.
      */
    def refs: Map[String, (Long, String)] =
      Option(node.get("refs")).map(r =>
        r.properties().asScala.map(e => e.getKey -> (
          e.getValue.get("snapshot-id").asLong(),
          Option(e.getValue.get("type")).map(_.asText()).getOrElse("branch")))
          .toMap).getOrElse(Map.empty)
    def snapshots: Seq[com.fasterxml.jackson.databind.JsonNode] =
      (0 until node.get("snapshots").size()).map(node.get("snapshots").get(_))
    def properties: Map[String, String] = {
      val p = node.get("properties")
      if (p == null) Map.empty
      else p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
    /** (appId → max committed version), from every retained snapshot
      * summary AND the `graft.txn.<app>` properties [[expireSnapshots]]
      * leaves behind for expired ones.
      */
    def appVersions: Map[String, Long] = {
      val fromSnaps = snapshots.flatMap { s =>
        val sum = s.get("summary")
        if (sum != null && sum.has("graft.txn.app"))
          Some(sum.get("graft.txn.app").asText() -> sum.get("graft.txn.version").asLong())
        else None
      }
      val fromProps = properties.collect {
        case (k, v) if k.startsWith("graft.txn.") =>
          k.stripPrefix("graft.txn.") -> v.toLong
      }
      (fromSnaps ++ fromProps).groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    }
  }

  /** Newest committed metadata: version-hint first (a hint — spec allows
    * it to lag), then the definitive v*.metadata.json listing.
    */
  /** Latest retained snapshot whose `timestamp-ms` ≤ `tsMillis` —
    * `TIMESTAMP AS OF` resolution (None when the earliest retained
    * snapshot is already later, or past expire_snapshots retention).
    */
  /** Resolve a snapshot REF (tag or branch) by name — the `AS OF
    * 'tagname'` form. Unknown names list what exists, loudly.
    */
  private[graft] def snapshotIdOfRef(table: String, ref: String): Long = {
    val m = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
    m.refs.get(ref).map(_._1).getOrElse(sys.error(
      s"$table has no ref '$ref' (refs: ${m.refs.keys.toSeq.sorted.mkString(", ")})"))
  }

  private[graft] def snapshotIdAt(table: String, tsMillis: Long): Option[Long] =
    current(table).flatMap { m =>
      m.snapshots
        .flatMap(s => Option(s.get("timestamp-ms"))
          .map(t => (t.asLong(), s.get("snapshot-id").asLong())))
        .filter(_._1 <= tsMillis)
        .maxByOption(_._1).map(_._2)
    }

  def current(table: String): Option[Meta] = {
    val dir = metaDir(table)
    if (!Files.isDirectory(dir)) return None
    val cands = listDir(dir).flatMap(p => p.getFileName.toString match {
      case MetaRe(v) => Some((v.toInt, p))
      case MetaCatalogRe(v) => Some((v.toInt, p))
      case _ => None
    })
    if (cands.isEmpty) return None
    val v = cands.map(_._1).max
    val atMax = cands.filter(_._1 == v)
    // two files claiming the same version = a CAS race only the catalog
    // adjudicated; picking one here could silently diverge from it
    require(atMax.size == 1,
      s"$table: multiple metadata files claim version $v " +
        s"(${atMax.map(_._2.getFileName).mkString(", ")}); the current " +
        "state is ambiguous without the owning catalog — remove the losers")
    val metaFile = atMax.head._2
    val node = mapper.readTree(Files.readAllBytes(metaFile))
    // this engine WRITES format-version 2 and READS 2 and 3 (r13: v3
    // differs on the read side by puffin deletion vectors, which
    // [[deleteFiles]]/[[readWithDeletes]] implement). A v1 table has NO
    // sequence numbers — reading it with v2 rules would mis-order
    // equality-delete applicability; refuse loudly rather than guess
    val fv = Option(node.get("format-version")).map(_.asInt()).getOrElse(1)
    require(fv == 2 || fv == 3,
      s"$table is Iceberg format-version $fv; this engine reads " +
        "format-versions 2 and 3 (sequence numbers, row-level deletes, " +
        "v3 deletion vectors) — refusing to guess other semantics")
    // v3 defaults: READS fill initial-default per file ([[read]],
    // [[readChanges]], the streaming view's materializations); APPENDS
    // fill write-default for omitted columns ([[writeBatch]]); DML
    // candidate reads fill too, so postimages materialize the values.
    // Evolution carries the schema-entry nodes verbatim (r16).
    Some(Meta(v, node, metaFile.getFileName.toString))
  }

  // ── column metrics (parquet footer → spec maps) ──────────────────────

  /** Iceberg single-value binary serialization (spec Appendix D):
    * little-endian fixed-width numerics, UTF-8 strings, raw binary.
    */
  private[graft] def boundBytes(v: Any, dt: DataType): Option[Array[Byte]] = {
    def le(n: Int, f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      f(b); b.array()
    }
    (v, dt) match {
      case (null, _) => None
      case (b: Boolean, BooleanType) => Some(Array[Byte](if (b) 1 else 0))
      case (i: Int, IntegerType) => Some(le(4, _.putInt(i)))
      case (l: Long, LongType) => Some(le(8, _.putLong(l)))
      case (f: Float, FloatType) if !f.isNaN => Some(le(4, _.putFloat(f)))
      case (d: Double, DoubleType) if !d.isNaN => Some(le(8, _.putDouble(d)))
      case (s: String, StringType) => Some(s.getBytes("UTF-8"))
      case (b: Array[Byte], BinaryType) => Some(b)
      case (days: Int, DateType) => Some(le(4, _.putInt(days)))
      case (micros: Long, TimestampType) => Some(le(8, _.putLong(micros)))
      case _ => None
    }
  }

  private[graft] def boundValue(b: Array[Byte], dt: DataType): Any = {
    def buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case BooleanType => b(0) == 1.toByte
      case IntegerType | DateType => buf.getInt
      case LongType | TimestampType => buf.getLong
      case FloatType => buf.getFloat
      case DoubleType => buf.getDouble
      case StringType => new String(b, "UTF-8")
      case BinaryType => b
      case other => throw new IllegalArgumentException(s"iceberg bound: $other")
    }
  }

  private final case class ColMetrics(valueCounts: Map[Int, Long],
      nullCounts: Map[Int, Long], lower: Map[Int, Array[Byte]],
      upper: Map[Int, Array[Byte]])

  /** Harvest per-column metrics from an already-open parquet footer:
    * value/null counts always; bounds only where the chunk statistics are
    * present and the type has an exact spec serialization (INT96
    * timestamps and NaN-tainted float stats are skipped — pruning must be
    * conservative, never clever).
    */
  /** Primitive LEAVES of `schema` keyed by their PARQUET column path
    * (dots), each resolved to its declared field id and type. Parquet
    * interior nodes differ from iceberg paths: Spark writes 3-level
    * lists (`arr.list.element`) and `key_value` map groups — the walk
    * translates so footer chunks key straight into spec metrics maps.
    */
  private def metricLeaves(schema: StructType,
      ids: Map[String, Int]): Map[String, (Int, DataType)] = {
    val out = Map.newBuilder[String, (Int, DataType)]
    def walk(ice: String, pq: String, dt: DataType, fallback: Int): Unit = dt match {
      case st: StructType => st.fields.foreach(f =>
        walk(s"$ice.${f.name}", s"$pq.${f.name}", f.dataType, -1))
      case at: ArrayType =>
        walk(s"$ice.element", s"$pq.list.element", at.elementType, -1)
      case mt: MapType =>
        walk(s"$ice.key", s"$pq.key_value.key", mt.keyType, -1)
        walk(s"$ice.value", s"$pq.key_value.value", mt.valueType, -1)
      case prim =>
        ids.get(ice).orElse(Some(fallback).filter(_ > 0))
          .foreach(id => out += pq -> (id, prim))
    }
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      walk(f.name, f.name, f.dataType, i + 1) }
    out.result()
  }

  private def footerMetrics(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      schema: StructType, ids: Map[String, Int]): ColMetrics = {
    val byName = metricLeaves(schema, ids)
    val vc = scala.collection.mutable.Map.empty[Int, Long]
    val nc = scala.collection.mutable.Map.empty[Int, Long]
    val lo = scala.collection.mutable.Map.empty[Int, Any]
    val hi = scala.collection.mutable.Map.empty[Int, Any]
    val statsOk = scala.collection.mutable.Map.empty[Int, Boolean]
    val nullsOk = scala.collection.mutable.Map.empty[Int, Boolean]
    footer.getBlocks.asScala.foreach { block =>
      block.getColumns.asScala.foreach { chunk =>
        val name = chunk.getPath.toDotString
        byName.get(name).foreach { case (fieldId, dt) =>
          vc(fieldId) = vc.getOrElse(fieldId, 0L) + chunk.getValueCount
          val st = chunk.getStatistics
          if (st == null || st.isEmpty || !st.isNumNullsSet)
            nullsOk(fieldId) = false
          else {
            nullsOk.getOrElseUpdate(fieldId, true)
            if (nullsOk(fieldId)) nc(fieldId) = nc.getOrElse(fieldId, 0L) + st.getNumNulls
          }
          if (st == null || st.isEmpty || !st.hasNonNullValue)
            statsOk(fieldId) = false
          else {
            statsOk.getOrElseUpdate(fieldId, true)
            if (statsOk(fieldId)) {
              val (mn, mx) = (parquetStatValue(st.genericGetMin.asInstanceOf[AnyRef], dt),
                parquetStatValue(st.genericGetMax.asInstanceOf[AnyRef], dt))
              if (mn == null || mx == null) statsOk(fieldId) = false
              else {
                if (!lo.contains(fieldId) || compareValues(mn, lo(fieldId), dt) < 0) lo(fieldId) = mn
                if (!hi.contains(fieldId) || compareValues(mx, hi(fieldId), dt) > 0) hi(fieldId) = mx
              }
            }
          }
        }
      }
    }
    val dtById: Map[Int, DataType] =
      byName.values.map { case (id, dt) => id -> dt }.toMap
    def bounds(m: scala.collection.Map[Int, Any]): Map[Int, Array[Byte]] =
      m.toMap.collect { case (id, v) if statsOk.getOrElse(id, false) =>
        val dt = dtById(id)
        boundBytes(v, dt).map(id -> _)
      }.flatten.toMap
    ColMetrics(vc.toMap,
      nc.toMap.filter { case (id, _) => nullsOk.getOrElse(id, false) },
      bounds(lo), bounds(hi))
  }

  /** Parquet statistics value → the plain JVM value [[boundBytes]]
    * serializes (null = unusable for this column type).
    */
  private[graft] def parquetStatValue(v: AnyRef, dt: DataType): Any = (v, dt) match {
    case (i: java.lang.Integer, IntegerType | DateType) => i.intValue()
    case (l: java.lang.Long, LongType | TimestampType) => l.longValue()
    case (f: java.lang.Float, FloatType) if !f.isNaN => f.floatValue()
    case (d: java.lang.Double, DoubleType) if !d.isNaN => d.doubleValue()
    case (b: org.apache.parquet.io.api.Binary, StringType) => b.toStringUsingUTF8
    case (b: org.apache.parquet.io.api.Binary, BinaryType) => b.getBytes
    case (b: java.lang.Boolean, BooleanType) => b.booleanValue()
    case _ => null
  }

  /** Total order used for both footer aggregation and scan pruning
    * ([[StatsPruning.compareValues]] — shared with the Delta path).
    */
  private def compareValues(a: Any, b: Any, dt: DataType): Int =
    StatsPruning.compareValues(a, b, dt)

  // ── write path ───────────────────────────────────────────────────────

  private final case class DataFileInfo(path: String, size: Long, records: Long,
      partitionValues: Seq[(String, String)], metrics: ColMetrics,
      /** content=2 entries: the table field ids the delete matches on
        * (spec data_file field 135, required for equality deletes). */
      equalityIds: Option[Seq[Int]] = None,
      /** v3 DELETION VECTOR entries: file_format PUFFIN + the blob
        * triple (referenced data file path, content_offset,
        * content_size_in_bytes — spec fields 143-145). */
      fileFormat: String = "PARQUET",
      dv: Option[(String, Long, Long)] = None)

  // ── decoded-manifest cache ───────────────────────────────────────────
  // Manifests and manifest lists are IMMUTABLE once written (the spec's
  // core invariant), so a decode keyed by (path, size, inode) is
  // reusable across plans. The name-resolving walk over a FOREIGN
  // manifest costs ~30 µs/entry (ManifestDecodeProbe) — at the
  // 10⁶-file ceiling that re-paid ~30 s on EVERY plan before this
  // cache. Bounded by total cached entry rows, LRU; table recreation
  // (same path, new bytes) misses via the inode/size stamp.

  private val manifestCacheMaxRows = 262144L
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long, String, String), Seq[Row]](64, 0.75f, true)
  private var manifestCacheRows = 0L
  private[graft] val manifestCacheHits = new java.util.concurrent.atomic.AtomicLong
  private[graft] val manifestCacheMisses = new java.util.concurrent.atomic.AtomicLong

  private[graft] def clearManifestCache(): Unit = manifestCache.synchronized {
    manifestCache.clear(); manifestCacheRows = 0L
  }

  private def cachedDecode(path: String, shape: String)(decode: => Seq[Row]): Seq[Row] = {
    val p = localPath(path).toAbsolutePath.normalize
    val attrs =
      try Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: Exception => return decode }
    // fileKey = (device, inode) on POSIX — a recreated file at the same
    // path is a NEW inode, so stale entries can never be served even
    // within one mtime-resolution tick
    val key = (p.toString, attrs.size(),
      Option(attrs.fileKey).map(_.toString)
        .getOrElse(attrs.lastModifiedTime().toString), shape)
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) { manifestCacheHits.incrementAndGet(); return hit }
    }
    manifestCacheMisses.incrementAndGet()
    val rows = decode
    manifestCache.synchronized {
      if (manifestCache.put(key, rows) == null) manifestCacheRows += rows.size
      val it = manifestCache.entrySet().iterator()
      while (manifestCacheRows > manifestCacheMaxRows && it.hasNext) {
        val e = it.next() // access-ordered: eldest first
        if (e.getKey != key) { manifestCacheRows -= e.getValue.size; it.remove() }
      }
    }
    rows
  }

  /** Decode one manifest's entries. The writer's wire shape is resolved
    * from the embedded `avro.schema` (pre-r12 manifests lack
    * `equality_ids`; their `data_file` structs are padded with a null),
    * so every caller sees the current 11-field shape. `partType` must
    * match the manifest's own partition-spec-id — [[partTypeOfSpec]].
    * Decodes are served from the immutable-manifest cache when the
    * (path, size, inode, shape) matches a prior read.
    */
  private[graft] def readEntries(path: String, partType: StructType): Seq[Row] =
    cachedDecode(path, "entries:" + partType.json)(readEntriesUncached(path, partType))

  private def readEntriesUncached(path: String, partType: StructType): Seq[Row] = {
    val in = Files.newInputStream(localPath(path))
    try {
      val rows = AvroCodec.readOcfResolvingRows(in, meta => {
        val ws = meta.getOrElse("avro.schema", "")
        // our own wire shapes decode POSITIONALLY (no per-record name
        // lookup on the metadata hot path); anything else — a manifest
        // from iceberg-java/pyiceberg with the full spec field set in
        // its own order — decodes by the embedded writer schema and
        // projects onto our shape BY NAME (spec field names are
        // normative), unknown fields skipped. The foreign projection
        // includes the v3 deletion-vector fields (143-145). Building
        // the OWN-shape json can itself fail on partition types this
        // writer never emits (a foreign decimal-partitioned spec) —
        // that must fall through to the resolving branch, not crash
        // before it runs
        def ownJson(withEq: Boolean, withDv: Boolean = false): Option[String] =
          try Some(manifestEntrySchemaJson(partType, withEqIds = withEq,
            withDv = withDv))
          catch { case _: IllegalArgumentException => None }
        if (ownJson(true).contains(ws))
          Left(manifestEntryType(partType))
        else if (ownJson(true, withDv = true).contains(ws))
          Left(manifestEntryType(partType, withDv = true))
        else if (ownJson(false).contains(ws))
          Left(manifestEntryType(partType, withEqIds = false))
        else Right(manifestEntryType(partType, withDv = true))
      }).toSeq
      // normalize every data_file struct to the WIDEST shape (eq_ids +
      // dv fields, 14) so consumers index one layout; re-serialization
      // of survivor entries is unaffected (the avro writer walks its
      // 11-field schema, trailing row fields ignored)
      val width = manifestEntryType(partType, withDv = true)
        .fields(4).dataType.asInstanceOf[StructType].size
      rows.map { e =>
        val df = e.getStruct(4)
        if (df.size == width) e
        else Row(e.get(0), e.get(1), e.get(2), e.get(3),
          Row.fromSeq(df.toSeq ++ Seq.fill(width - df.size)(null)))
      }
    } finally in.close()
  }

  /** The partition struct a manifest's entries were written under,
    * resolved from metadata.json's `partition-specs` by the manifest's
    * spec id — names, value types (per transform result type), and
    * `field-id`s (stamped as StructField metadata, what the
    * name-resolving avro decode binds). An unknown spec id or transform
    * fails LOUDLY: projecting a third-party manifest onto a guessed
    * struct would silently drop its partition values.
    */
  private[graft] def partTypeOfSpec(m: Meta, specId: Int): StructType = {
    val specs = m.node.get("partition-specs")
    val spec = (0 until specs.size()).map(specs.get)
      .find(_.get("spec-id").asInt() == specId)
      .getOrElse(sys.error(s"iceberg: a manifest references partition-spec " +
        s"$specId, which metadata.json's partition-specs does not define; " +
        "refusing to silently drop its partition values"))
    val fields = spec.get("fields")
    StructType((0 until fields.size()).map { i =>
      val f = fields.get(i)
      val name = f.get("name").asText()
      val transform = f.get("transform").asText()
      val fid = Option(f.get("field-id")).map(_.asInt()).getOrElse(1000 + i)
      def srcType: DataType = {
        val srcId = f.get("source-id").asInt()
        m.schemaFieldTypeById(srcId).getOrElse(sys.error(
          s"iceberg: partition-spec $specId field '$name' references " +
            s"source column id $srcId, absent from the current schema"))
      }
      // spec "Partition Transforms" result types
      val dt = transform match {
        case "identity" | "void" => srcType
        case t if t.startsWith("truncate") => srcType
        case t if t.startsWith("bucket") => IntegerType
        case "year" | "month" | "hour" => IntegerType
        case "day" => DateType
        case other => sys.error(s"iceberg: partition-spec $specId field " +
          s"'$name' uses unsupported transform '$other'")
      }
      StructField(name, dt, nullable = true, idMeta(fid))
    })
  }

  /** Is `m`'s spec/field-id topology exactly what THIS writer mints —
    * specs ⊆ {0 = identity table spec, 1 = empty delete spec},
    * default-spec-id 0, identity transforms only, and the current
    * schema's field ids positional (1..n)? Anything else means the
    * metadata rebuild and the positional metrics harvest would corrupt
    * structures a conformant reader resolves by id.
    */
  private def writerMintedTopology(m: Meta): Boolean = {
    val specs = Option(m.node.get("partition-specs")).getOrElse(return false)
    val byId = (0 until specs.size()).map(specs.get)
      .map(s => s.get("spec-id").asInt() -> s).toMap
    val defaultId =
      Option(m.node.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    def allIdentity(s: com.fasterxml.jackson.databind.JsonNode): Boolean = {
      val f = s.get("fields")
      (0 until f.size()).forall(i =>
        f.get(i).get("transform").asText() == "identity")
    }
    val schemas = m.node.get("schemas")
    val curSchema = (0 until schemas.size()).map(schemas.get)
      .find(_.get("schema-id").asInt() == m.currentSchemaId)
      .getOrElse(schemas.get(0))
    val sf = curSchema.get("fields")
    // strictly-increasing distinct positive ids: the shape every
    // descendant of this engine's sequential mint has — CREATE mints
    // 1..n, appends mint past last-column-id, RENAME keeps ids, DROP
    // leaves a gap but preserves order. Reorders or foreign re-numbered
    // histories fall outside it and refuse (reads stay fine).
    val idSeq = (0 until sf.size()).flatMap(i =>
      Option(sf.get(i).get("id")).map(_.asInt()))
    val mintedIds = idSeq.size == sf.size() && idSeq.forall(_ >= 1) &&
      idSeq.zip(idSeq.drop(1)).forall { case (a, b) => a < b }
    byId.keySet.subsetOf(Set(0, 1)) && defaultId == 0 &&
      byId.get(0).forall(allIdentity) &&
      byId.get(1).forall(_.get("fields").size() == 0) &&
      mintedIds
  }

  /** The write path's spec resolution: [[commitSnapshot]] itself defines
    * spec 0 (the table's identity spec) and spec 1 (the unpartitioned
    * spec global delete files ride — per the Iceberg spec, a global
    * equality delete must not carry partition values a spec-conformant
    * reader would prune by), so no metadata lookup is involved. Any
    * other id on the write path is a bug.
    */
  private def writePartTypeOfSpec(specId: Int, tablePartType: StructType): StructType =
    if (specId == 0) tablePartType
    else if (specId == 1) StructType(Seq.empty[StructField])
    else sys.error(s"iceberg: the write path only mints specs 0 and 1, got $specId")

  /** Append `df` as one fast-append snapshot. `txn` = (appId, version)
    * arms the idempotent-replay guard (reference transaction_id,
    * iceberg/mod.rs:67). Returns the committed metadata version, or None
    * when the txn was already committed.
    */
  def writeBatch(df: DataFrame, table: String,
      txn: Option[(String, Long)] = None,
      partitionBy: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false): Option[Int] = {
    val spark = df.sparkSession
    txn.foreach { case (app, v) =>
      if (current(table).exists(_.appVersions.get(app).exists(_ >= v)))
        return None
    }
    val cur0 = current(table)
    // v3 WRITE-DEFAULT application (r17): an append omitting a column
    // that carries `write-default` materializes the spec's value into
    // the written bytes — exactly what a conformant writer does (absent
    // bytes would read back the column's initial-default instead, which
    // may differ). Omitted columns carrying ONLY an initial-default
    // still refuse in commitSnapshot.
    val df1 = cur0.map { m =>
      writeDefaultFields(m).filterNot(d => df.columns.contains(d._1.name))
        .foldLeft(df) { case (d0, (sf, v)) =>
          d0.withColumn(sf.name,
            org.apache.spark.sql.functions.lit(v).cast(sf.dataType))
        }
    }.getOrElse(df)
    // field ids are TABLE-schema positions: under evolution the batch's
    // column order may differ, so metrics must key off the schema the
    // commit will land under (fresh table: the batch's own schema)
    val statSchema = cur0
      .map(m => SchemaEvolution.resolve(m.schema, df1.schema, mergeSchema, table))
      .getOrElse(df1.schema)
    // declared-nullable columns landing in REQUIRED table columns get a
    // row-level null guard (r17) — the write fails on the first actual
    // null instead of refusing every file-sourced (always-nullable) batch
    val dfW = SchemaEvolution.withRequiredGuards(df1, statSchema)
    val added = writeDataFiles(spark, table, dfW, partitionBy, statSchema)
    val committed = commit(spark, table, df1.schema, partitionBy, added, txn,
      mergeSchema)
    if (committed.isEmpty)
      added.foreach(a => Files.deleteIfExists(Paths.get(a.path)))
    committed
  }

  /** Stamp Iceberg field ids into the parquet footers Spark writes
    * (`parquet.field.id` column metadata; honored when
    * `spark.sql.parquet.fieldId.write.enabled` is on, its default).
    * Per the spec, readers resolve parquet columns BY FIELD ID — name
    * mapping is only the fallback — so data files carry the table ids
    * and delete files the reserved ids; a third-party reader binds our
    * columns without relying on the name-mapping property.
    */
  private def withFieldIds(df: DataFrame, ids: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val nested = df.schema.fields.exists(f => f.dataType match {
      case _: StructType | _: ArrayType | _: MapType => true; case _ => false })
    if (!nested)
      // flat: alias metadata stamps top-level ids inside codegen
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(s"`$c`").as(c,
            new MetadataBuilder().putLong("parquet.field.id", id.toLong).build())
          case None => col(s"`$c`")
        }
      }.toIndexedSeq: _*)
    else if (idStampable(df.schema)) {
      // struct nesting (r16): Catalyst aliases cannot carry NESTED field
      // metadata — one external-row re-type pass lands ids at every
      // depth (the delta id-mode template, DeltaLog.toMappedPhysFrame).
      // Costs a codegen break, paid only by nested writes.
      df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      df.sparkSession.createDataFrame(df.rdd, withIdMetadata(df.schema, ids))
    } else
      // list/map present: ids would be PARTIAL (no id below a list/map
      // node is expressible) and a spec-conformant id-resolving reader
      // treats id-less columns as absent — write NO ids; the nested
      // name mapping ([[nameMappingJson]]) is the binding instead
      df
  }

  private def tableFieldIds(schema: StructType): Map[String, Int] =
    schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap

  /** The `schema.name-mapping.default` table property (spec: Column
    * Projection fallback for files WITHOUT parquet field ids — e.g.
    * files this engine wrote before r12, third-party imports, or
    * list/map-bearing schemas whose files deliberately carry no ids).
    * Nested fields map through the spec's recursive `fields` attribute
    * (list elements as "element", map sides as "key"/"value").
    */
  private def nameMappingJson(schema: StructType,
      ids: Map[String, Int]): String = {
    def entry(path: String, name: String, dt: DataType, fallback: Int): String = {
      val id = ids.getOrElse(path,
        if (fallback > 0) fallback
        else sys.error(s"iceberg name mapping: no field id for path $path"))
      val nested = dt match {
        case st: StructType => Some(st.fields.map(f =>
          entry(s"$path.${f.name}", f.name, f.dataType, -1)).mkString("[", ",", "]"))
        case at: ArrayType => Some(
          "[" + entry(s"$path.element", "element", at.elementType, -1) + "]")
        case mt: MapType => Some(
          "[" + entry(s"$path.key", "key", mt.keyType, -1) + "," +
            entry(s"$path.value", "value", mt.valueType, -1) + "]")
        case _ => None
      }
      s"""{"field-id":$id,"names":["$name"]""" +
        nested.map(n => s""","fields":$n""").getOrElse("") + "}"
    }
    schema.fields.zipWithIndex.map { case (f, i) =>
      entry(f.name, f.name, f.dataType, i + 1) }.mkString("[", ",", "]")
  }

  /** Write `df`'s rows as fresh table data files: scratch write, then
    * link under `data/` preserving hive partition dirs — each file under
    * a FRESH UUID NAME (two partition dirs of one Spark job share part
    * file names; the unique-name invariant is what position deletes key
    * on). Footer metrics harvest on the shared pool (bulk initial loads
    * commit 10⁴+ parts; serial footer opens would dominate the commit
    * path). Returns the added-file infos; the caller commits and deletes
    * them on a lost race.
    */
  private def writeDataFiles(spark: SparkSession, table: String, df: DataFrame,
      partitionBy: Seq[String], statSchema: StructType,
      /** Reserved metadata columns riding the frame beyond the table
        * schema (v3 lineage materialization, r16): their fields extend
        * the stats harvest and their FIXED ids override any minting. */
      extraStatFields: Seq[StructField] = Seq.empty,
      extraIds: Map[String, Int] = Map.empty): Seq[DataFileInfo] = {
    Files.createDirectories(Paths.get(table, "data"))
    // DECLARED ids, hoisted once per write op (after a RENAME/DROP they
    // are no longer positional; statFile below must key metrics the same)
    val ids = fieldIdsFor(current(table), statSchema) ++ extraIds
    val scratch = Paths.get(table, s".graft-iceberg-${UUID.randomUUID()}")
    val w = withFieldIds(df, ids).write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(scratch.toString)
    val parts = walkDir(scratch)
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => (scratch.relativize(p).toString, p)).sortBy(_._1)
    val dataRoot = Paths.get(table, "data")
    val added = graft.sources.SpoolLink.parMap(parts) { case (rel, p) =>
      val destDir = Option(Paths.get(rel).getParent)
        .map(d => dataRoot.resolve(d)).getOrElse(dataRoot)
      Files.createDirectories(destDir)
      val dest = destDir.resolve(s"part-${UUID.randomUUID()}.parquet")
      try Files.createLink(dest, p)
      catch { case _: UnsupportedOperationException =>
        Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE) }
      statFile(spark, table, dest,
        StructType(statSchema.fields ++ extraStatFields), ids)
    }
    walkDir(scratch).reverse.foreach(Files.deleteIfExists(_))
    // Spark's writer keeps task 0's file even when the task got no rows
    // (so an empty job still leaves a schema behind). Such a 0-row part
    // carries no column metrics, which initial-default reads need to
    // prove a column present: drop it, unless every part is empty (an
    // all-empty batch commits as before).
    val (empty, nonEmpty) = added.partition(_.records == 0)
    if (nonEmpty.isEmpty) added
    else {
      empty.foreach(a => Files.deleteIfExists(Paths.get(a.path)))
      nonEmpty
    }
  }

  /** One footer read per fresh data file: record count (the only part a
    * commit NEEDS) plus the per-column metrics maps, keyed by `ids` —
    * the table's DECLARED field ids (positional only for fresh tables).
    */
  private def statFile(spark: SparkSession, table: String, dest: Path,
      schema: StructType, ids: Map[String, Int]): DataFileInfo = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dest.toAbsolutePath.toString), conf))
    val (records, metrics) =
      try (reader.getRecordCount, footerMetrics(reader.getFooter, schema, ids))
      finally reader.close()
    DataFileInfo(dest.toAbsolutePath.toString, Files.size(dest), records,
      partitionValuesOf(Paths.get(table, "data").relativize(dest).toString), metrics)
  }

  /** Spark's hive-dir sentinel for a null partition value. */
  private[graft] val hiveNullDir = "__HIVE_DEFAULT_PARTITION__"

  private def partitionValuesOf(rel: String): Seq[(String, String)] =
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      seg.split("=", 2) match {
        // %XX-only decode: a literal '+' in a hive dir name is a '+',
        // not a space (URLDecoder's form-encoding rule doesn't apply);
        // Spark's null sentinel becomes a REAL null so the manifest
        // carries it and IS NULL pruning judges it correctly
        case Array(k, v) if v == hiveNullDir => Some(k -> (null: String))
        case Array(k, v) =>
          Some(k -> java.net.URLDecoder.decode(v.replace("+", "%2B"), "UTF-8"))
        case _ => None
      }
    }

  private def typedPartitionValue(s: String, dt: DataType): Any = dt match {
    case StringType => s
    case LongType => s.toLong
    case IntegerType => s.toInt
    case BooleanType => s.toBoolean
    case DoubleType => s.toDouble
    case other => throw new IllegalArgumentException(
      s"iceberg: unsupported partition column type $other")
  }

  private def kvRows(m: Map[Int, Any]): Seq[Row] =
    m.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }

  /** The `data_file` struct Row for a freshly-written file.
    * `content` 0 = data, 1 = position deletes (whose metrics maps are
    * keyed by the spec-reserved file_path/pos field ids and whose
    * partition values are null — our delete files are path-targeted,
    * not partition-scoped).
    */
  private def dataFileRow(a: DataFileInfo, partType: StructType,
      content: Int = 0): Row = {
    val pv = a.partitionValues.toMap
    val partRow = Row(partType.fields.map(f =>
      pv.get(f.name).flatMap(Option(_))
        .map(typedPartitionValue(_, f.dataType)).orNull).toIndexedSeq: _*)
    // always the FULL 14-field struct: the avro writer walks its own
    // schema's fields, so an 11-field (v2) manifest simply ignores the
    // trailing DV triple while a withDv (v3 DELETES) manifest emits it
    Row(content, a.path, a.fileFormat, partRow, a.records, a.size,
      kvRows(a.metrics.valueCounts.asInstanceOf[Map[Int, Any]]),
      kvRows(a.metrics.nullCounts.asInstanceOf[Map[Int, Any]]),
      kvRows(a.metrics.lower.asInstanceOf[Map[Int, Any]]),
      kvRows(a.metrics.upper.asInstanceOf[Map[Int, Any]]),
      a.equalityIds.map(_.toSeq).orNull,
      a.dv.map(_._1).orNull,
      a.dv.map(x => java.lang.Long.valueOf(x._2)).orNull,
      a.dv.map(x => java.lang.Long.valueOf(x._3)).orNull)
  }

  private def commit(spark: SparkSession, table: String, schema: StructType,
      partitionBy: Seq[String], added: Seq[DataFileInfo],
      txn: Option[(String, Long)], mergeSchema: Boolean = false): Option[Int] =
    commitSnapshot(spark, table, schema, partitionBy, added, txn,
      operation = "append", replaced = Set.empty, mergeSchema = mergeSchema)

  /** The one commit loop behind append ([[writeBatch]]) and replace
    * ([[rewriteDataFiles]]). For `append`, the new manifest list carries
    * every prior manifest forward, merging small ones past
    * [[mergeMinCount]]. For `replace`, the survivors (live entries NOT
    * being replaced, keeping their own sequence numbers) plus the new
    * ADDED manifest form a FRESH two-manifest list. Survivors are
    * RE-DERIVED from the freshly-read snapshot on every attempt — a
    * concurrent append landing between the caller's planning read and
    * this commit is carried forward, never dropped — and the loop
    * aborts (returns None) if any `replaced` path is no longer live in
    * that snapshot — the concurrent-replace conflict rule.
    */
  private def commitSnapshot(spark: SparkSession, table: String, schema0: StructType,
      partitionBy0: Seq[String], added: Seq[DataFileInfo],
      txn: Option[(String, Long)], operation: String,
      replaced: Set[String],
      conflict: Option[(Set[String], Option[String])] = None,
      mergeSchema: Boolean = false,
      /** Delete files this commit ADDS (merge-on-read DML): they land
        * as one DELETES manifest in the list, each entry stamped
        * `deleteContent` (1 = position deletes, 2 = equality deletes). */
      deleteAdded: Seq[DataFileInfo] = Seq.empty,
      deleteContent: Int = 1,
      /** Data files this commit's delete rows REFERENCE: a concurrent
        * replace removing one carried its rows to a fresh file our
        * positions don't bind to — conflict, re-plan. */
      mustBeLive: Set[String] = Set.empty,
      /** Delete-file paths the caller PLANNED against: a delete file
        * appearing since (concurrent MoR DML) holds retractions this
        * commit's reads never applied — conflict, re-plan. None = this
        * commit's semantics don't depend on the delete set. */
      baseDeletes: Option[Set[String]] = None,
      /** Purge every prior DELETES manifest from the new list — sound
        * only when the caller rewrote every live file the delete rows
        * could bind to (OPTIMIZE does, under `baseDeletes`' guard). */
      dropDeletes: Boolean = false,
      /** v3: data-file NAMES whose prior deletion vector this commit's
        * `deleteAdded` SUPERSEDES (the new DV already unions the old
        * positions). Prior DELETES manifests holding a superseded DV
        * entry are rewritten without it — the spec allows at most one
        * DV per data file. */
      supersededDv: Set[String] = Set.empty,
      /** Commit `schema0` VERBATIM instead of through append-only
        * SchemaEvolution — the RENAME/DROP COLUMN shape. Only sound
        * under `schemaBase` (drift aborts → caller re-plans) with no
        * files attached, and the caller must supply `explicitIds`
        * (rename keeps the old ids under the new name; drop keeps the
        * survivors' ids — minting here would re-bind parquet data). */
      schemaReplace: Boolean = false,
      schemaBase: Option[String] = None,
      explicitIds: Option[Map[String, Int]] = None,
      /** The caller's reads FILLED initial-defaults per file (r16 —
        * DML/OPTIMIZE through [[fillFieldsOf]]), so its postimages and
        * rewrites carry the correct values; lifts the default-table
        * rewrite refusal for exactly those paths. */
      fillAware: Boolean = false): Option[Int] = {
    require(!schemaReplace || (added.isEmpty && deleteAdded.isEmpty &&
      replaced.isEmpty && schemaBase.isDefined && explicitIds.isDefined),
      "schemaReplace commits must be metadata-only, schemaBase-guarded, " +
        "and carry their explicit field ids")
    val dir = metaDir(table)
    Files.createDirectories(dir)
    // `replace` = layout rewrite (same rows), `overwrite` = DML rewrite
    // (rows logically removed/changed) — identical survivor mechanics,
    // different snapshot summary + streaming-source semantics
    val isRewrite = operation == "replace" || operation == "overwrite"
    var attempt = 0
    while (attempt < 1000) {
      attempt += 1
      val cur = current(table)
      // v2 is the native write shape; v3 tables (this engine's own
      // `format-version=3` upgrade) also take writes — their position
      // deletes land as puffin DELETION VECTORS and the metadata
      // maintains `next-row-id`/`first-row-id`. v1 (or future versions)
      // stay read-only
      cur.foreach(m => require(m.formatVersion == 2 || m.formatVersion == 3,
        s"$table is Iceberg format-version ${m.formatVersion}; this " +
          "engine writes format-versions 2 and 3 only — the table stays " +
          "readable (read/scan/time travel), rewrite it to take writes"))
      val fv = cur.map(_.formatVersion).getOrElse(2)
      // catalog-managed metadata naming: the authoritative pointer lives
      // in the owning catalog — a filesystem-claimed vN commit here would
      // be invisible to it (and its next commit would silently drop ours)
      cur.foreach(m => require(!m.catalogManaged,
        s"$table uses catalog-managed metadata naming (${m.metaFileName}); " +
          "this engine commits the HadoopCatalog filesystem form only — " +
          "the table stays readable, route writes through its catalog"))
      // spec/id topology this writer didn't mint: the metadata rebuild
      // re-mints specs 0/1 and keys metrics by POSITIONAL field ids, so
      // committing into a table with evolved/foreign specs, non-identity
      // transforms, a non-zero default spec, or non-positional schema
      // ids would silently corrupt what a conformant reader resolves —
      // refuse loudly; such tables stay fully readable
      cur.foreach(m => require(writerMintedTopology(m),
        s"$table carries a partition-spec/field-id topology this writer " +
          "didn't mint (evolved or foreign specs, non-identity transforms, " +
          "non-zero default-spec-id, or non-positional schema field ids); " +
          "the table stays readable — route writes through the writer " +
          "that owns its history"))
      txn.foreach { case (app, v) =>
        if (cur.exists(_.appVersions.get(app).exists(_ >= v))) return None
      }
      // the schema this snapshot commits under: for appends, exact match
      // or sanctioned append-only evolution (SchemaEvolution — existing
      // positions never move, keeping position-derived field ids stable);
      // rewrites always commit under the table's own schema
      val schema = cur match {
        case Some(m) if schemaReplace =>
          // RENAME/DROP: the caller PLANNED against schemaBase — drift
          // means a concurrent evolution won; abort, the caller retries
          if (schemaBase.exists(b => m.schema.json != b)) return None
          schema0
        case Some(m) if operation == "append" =>
          require(m.partitionColumns == partitionBy0,
            s"$table is partitioned by (${m.partitionColumns.mkString(", ")}); " +
              s"this write declares (${partitionBy0.mkString(", ")}) — " +
              "repartitioning an existing table requires a rewrite, not an append")
          SchemaEvolution.resolve(m.schema, schema0, mergeSchema, table)
        case Some(m) =>
          // a conflict-guarded (DML) rewrite planned under schema0: the
          // table evolving since then (concurrent ADD COLUMNS) is a
          // concurrency LOSS — re-plan from the fresh snapshot, mirroring
          // the delta twin — never a silent commit under a drifted schema
          if (conflict.isDefined && m.schema.json != schema0.json) return None
          m.schema
        case None => schema0
      }
      // v3 initial-default tables (r16): appends, schema EVOLUTION (ADD
      // COLUMNS / mergeSchema), and RENAME/DROP are all safe now that
      // carried fields copy their schema-entry nodes VERBATIM (the
      // default attributes survive evolution instead of re-minting
      // away). Two refusals remain: DML/rewrites (their postimages read
      // pre-field files raw and would null the defaults), and
      // data-bearing appends whose batch OMITS a default column (that
      // engages the spec's write-default semantics — out of scope for
      // an engine that writes every column it declares).
      cur.foreach { m =>
        val defaults = initialDefaultFields(m)
        if (defaults.nonEmpty) {
          // fill-aware callers (DML/MoR/OPTIMIZE, r16) read every
          // candidate with per-file default fills, so their postimages
          // and rewrites carry correct values; anything else that
          // rewrites rows would null the defaults — refuse
          require(fillAware || (operation == "append" && !isRewrite &&
            deleteAdded.isEmpty && supersededDv.isEmpty),
            s"$table: v3 schema carries initial-default field(s); this " +
              "engine APPENDS, EVOLVES, DMLs and READS such tables " +
              "through default-filling reads, but this commit path " +
              "reads raw — route it through the writer that owns the " +
              "defaults")
          if (added.nonEmpty) defaults.foreach { case (sf, _) =>
            // writeBatch fills write-default columns upstream (r17), so
            // a column still missing HERE either carries only an
            // initial-default (omission would silently read back the
            // initial-default — ambiguous with "writer meant null") or
            // came through a path that bypassed the fill; refuse both
            require(schema0.fieldNames.contains(sf.name),
              s"$table: append omits default-carrying column ${sf.name} " +
                "and the field declares no write-default to fill; write " +
                "the column explicitly")
          }
        }
      }
      // a RENAME COLUMN on a partition column arrives with the NEW name;
      // otherwise the table's own partitioning is authoritative
      val partitionBy =
        if (schemaReplace) partitionBy0
        else cur.map(_.partitionColumns).getOrElse(partitionBy0)
      // every id-keyed structure below (new schema entries, parquet
      // stamps, metrics, spec source-ids, name mapping) keys off the
      // DECLARED ids; rename/drop commits supply theirs explicitly
      val fieldIdOf: Map[String, Int] =
        explicitIds.getOrElse(fieldIdsFor(cur, schema))
      // schemas is an append-only HISTORY (evolution appends a new entry
      // with the next schema-id); current-schema-id selects. Fields
      // carried from the prior CURRENT entry copy their JSON nodes
      // VERBATIM (name refreshed — a rename), so unknown per-field
      // attributes — v3 initial-default/write-default, doc — survive
      // evolution instead of being silently re-minted away (r16).
      // Sound because evolution never changes a carried field's type or
      // nullability; only genuinely NEW fields mint fresh nodes.
      val priorSchemas: Seq[com.fasterxml.jackson.databind.JsonNode] =
        cur.map { m =>
          val arr = m.node.get("schemas")
          (0 until arr.size()).map(arr.get)
        }.getOrElse(Seq.empty)
      def evolvedEntry(m: Meta, next: Int): com.fasterxml.jackson.databind.JsonNode = {
        val minted = mapper.readTree(schemaJson(schema, next, fieldIdOf))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val arr = m.node.get("schemas")
        val priorCur = (0 until arr.size()).map(arr.get)
          .find(_.get("schema-id").asInt() == m.currentSchemaId)
          .getOrElse(arr.get(0))
        val priorById = (0 until priorCur.get("fields").size())
          .map(priorCur.get("fields").get)
          .map(f => f.get("id").asInt() -> f).toMap
        val fs = minted.get("fields")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        (0 until fs.size()).foreach { i =>
          val f = fs.get(i).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          priorById.get(f.get("id").asInt()).foreach { pf =>
            val copy = pf.deepCopy[com.fasterxml.jackson.databind.JsonNode]()
              .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            copy.set[com.fasterxml.jackson.databind.JsonNode]("name",
              f.get("name").deepCopy[com.fasterxml.jackson.databind.JsonNode]())
            // NESTED evolution (rename/drop/add at depth) changes the
            // type node itself — keep the MINTED type then (Jackson
            // equality is structural, so an unchanged type — however
            // the prior writer formatted it — still carries verbatim)
            if (!copy.get("type").equals(f.get("type")))
              copy.set[com.fasterxml.jackson.databind.JsonNode]("type",
                f.get("type").deepCopy[com.fasterxml.jackson.databind.JsonNode]())
            fs.set(i, copy)
            ()
          }
        }
        minted
      }
      val (schemaId, allSchemas) = cur match {
        case Some(m) if m.schema.json == schema.json =>
          (m.currentSchemaId, priorSchemas)
        case Some(m) =>
          val next = priorSchemas.map(_.get("schema-id").asInt()).max + 1
          (next, priorSchemas :+ evolvedEntry(m, next))
        case None => (0, Seq(mapper.readTree(schemaJson(schema, 0, fieldIdOf))))
      }
      // conflict detection against this attempt's FRESH snapshot: every
      // file this commit removes — and every file its delete rows
      // reference — must still be live (a concurrent replace that beat
      // us already rewrote some: abort, never duplicate or resurrect
      // rows), a concurrently-added file that MAY match the predicate
      // aborts (ConcurrentAppend, see DeltaLog.commit), and a delete
      // file landed since planning means retractions our reads never
      // applied — abort on all three; the caller re-plans
      val needLive = isRewrite || mustBeLive.nonEmpty || baseDeletes.isDefined
      val liveNow: Seq[LiveFile] =
        if (needLive && cur.isDefined) liveFiles(table, None).filter(_.status != 2)
        else Seq.empty
      if (needLive) {
        val liveSet = liveNow.map(_.path).toSet
        if (!replaced.forall(liveSet.contains)) return None
        if (!mustBeLive.forall(liveSet.contains)) return None
        baseDeletes.foreach { base =>
          if ((deleteFiles(table, None).map(_.path).toSet -- base).nonEmpty)
            return None
        }
        conflict.foreach { case (baseFiles, predSql) =>
          val newFiles = liveNow.filterNot(f => baseFiles.contains(f.path))
          if (newFiles.nonEmpty) {
            val conflicting = predSql match {
              case None => true // predicate-less DML touches every row
              case Some(p) =>
                val conj = StatsPruning.conjunctsOf(spark, p)
                newFiles.exists(f => conj.forall(c =>
                  StatsPruning.mayMatch(fileStats(f, schema, fieldIdOf), c, schema)))
            }
            if (conflicting) return None
          }
        }
      }
      // survivor derivation engages only for a genuine file REWRITE
      // (replace/overwrite removing files, or a delete purge): the fresh
      // two-manifest list. A merge-on-read row-delta (replaced empty)
      // carries prior manifests forward like an append instead — its
      // list cost is O(1), not O(live files), which is the point of MoR
      val survivors: Option[Seq[Row]] =
        if (!(isRewrite && (replaced.nonEmpty || dropDeletes))) None
        else Some(liveNow.filterNot(f => replaced.contains(f.path)).map(_.entryRow))
      val partType = StructType(partitionBy.map(c =>
        StructField(c, schema(schema.fieldIndex(c)).dataType, nullable = true)))
      val newVersion = cur.map(_.version + 1).getOrElse(1)
      val seq = cur.map(_.lastSeq + 1).getOrElse(1L)
      val snapshotId = math.abs(UUID.randomUUID().getLeastSignificantBits) | 1L
      val parentId = cur.map(_.currentSnapshotId).filter(_ > 0)
      val now = System.currentTimeMillis()
      val tableUuid = cur.map(_.uuid).getOrElse(UUID.randomUUID().toString)
      val cleanup = scala.collection.mutable.ArrayBuffer.empty[Path]

      def writeManifest(rows: Seq[Row], content: String = "data",
          specId: Int = 0,
          /** DELETES manifests of a v3 table carry the DV triple
            * (fields 143-145) on the wire. */
          withDv: Boolean = false): (Path, Long) = {
        val mPartType = writePartTypeOfSpec(specId, partType)
        val entryType = manifestEntryType(mPartType, withDv = withDv)
        val p = dir.resolve(s"${UUID.randomUUID()}-m0.avro")
        val out = Files.newOutputStream(p)
        try AvroCodec.writeOcf(out, entryType, rows.iterator,
          schemaJsonOverride = Some(
            manifestEntrySchemaJson(mPartType, withDv = withDv)),
          extraMeta = Seq(
            "schema" -> schemaJson(schema, schemaId, fieldIdOf),
            // must agree with the embedded schema's own schema-id (and
            // metadata.json's current-schema-id) — readers that resolve
            // the manifest schema by id would otherwise bind the
            // pre-evolution schema
            "schema-id" -> schemaId.toString,
            "partition-spec" -> (if (specId == 0)
              partitionSpecFieldsJson(schema, partitionBy, fieldIdOf) else "[]"),
            "partition-spec-id" -> specId.toString,
            "format-version" -> fv.toString,
            "content" -> content))
        finally out.close()
        cleanup += p
        (p, Files.size(p))
      }
      // GLOBAL delete files (path-targeted position deletes, unscoped
      // equality deletes) land under the UNPARTITIONED spec on a
      // partitioned table — a spec-conformant external reader prunes
      // delete files by partition, and all-null identity values under
      // the table spec would exclude them from every partition.
      // PARTITION-SCOPED equality deletes (each file's partition values
      // cover the partition columns) ride the TABLE spec instead, so
      // that same pruning CONFINES them to their dirty partition.
      val delScoped = deleteAdded.nonEmpty && partitionBy.nonEmpty &&
        deleteAdded.forall(_.partitionValues.map(_._1) == partitionBy)
      val delSpecId = if (partitionBy.nonEmpty && !delScoped) 1 else 0

      try {
        // 1) the new manifests: one ADDED entry per data file, explicit
        //    sequence numbers (spec allows inheriting; explicit is exact);
        //    position-delete files land in their own content=1 manifest
        val addedManifestRow: Option[Row] =
          if (added.isEmpty) None
          else {
            val entryRows = added.map(a =>
              Row(1, snapshotId, seq, seq, dataFileRow(a, partType)))
            val (manifestPath, manifestLen) = writeManifest(entryRows)
            Some(Row(manifestPath.toAbsolutePath.toString,
              manifestLen, 0, 0, seq, seq, snapshotId,
              added.size, 0, 0, added.map(_.records).sum, 0L, 0L))
          }
        val deleteManifestRow: Option[Row] =
          if (deleteAdded.isEmpty) None
          else {
            val rows = deleteAdded.map(a =>
              Row(1, snapshotId, seq, seq,
                dataFileRow(a, writePartTypeOfSpec(delSpecId, partType),
                  content = deleteContent)))
            val (p, len) = writeManifest(rows, "deletes", specId = delSpecId,
              withDv = fv == 3)
            Some(Row(p.toAbsolutePath.toString, len, delSpecId, 1, seq, seq,
              snapshotId,
              deleteAdded.size, 0, 0, deleteAdded.map(_.records).sum, 0L, 0L))
          }

        // 2) the manifest LIST. Prior DELETES manifests carry forward in
        //    their own content=1 manifests (mixing contents in one
        //    manifest is a spec violation) unless this commit purges
        //    them (dropDeletes) — and like the data side, the SMALL ones
        //    coalesce once they pile up, so a long run of MoR commits
        //    between OPTIMIZE passes keeps the list (and deleteFiles'
        //    per-read avro opens) O(large manifests), not O(commits)
        val prior: Seq[Row] = cur.flatMap { m =>
          m.snapshots.find(_.get("snapshot-id").asLong() == m.currentSnapshotId)
            .map(s => readManifestList(s.get("manifest-list").asText()))
        }.getOrElse(Seq.empty)
        val (priorDeletes0, priorData) = prior.partition(_.getInt(3) == 1)
        // v3: a data file carries at most ONE deletion vector — prior
        // DELETES manifests holding a DV this commit supersedes are
        // rewritten without it (the new DV already unions those
        // positions); a manifest emptied by the drop disappears
        val priorDeletes: Seq[Row] =
          if (supersededDv.isEmpty) priorDeletes0
          else priorDeletes0.flatMap { mf =>
            val mSpecId = mf.getInt(2)
            val mPartType = cur.map(partTypeOfSpec(_, mSpecId))
              .getOrElse(writePartTypeOfSpec(mSpecId, partType))
            val entries = readEntries(mf.getString(0), mPartType)
            def superseded(e: Row): Boolean = {
              val df0 = e.getStruct(4)
              df0.getInt(0) == 1 && df0.getString(2) != null &&
                df0.getString(2).equalsIgnoreCase("puffin") &&
                Option(df0.get(11)).exists(r =>
                  supersededDv(fileNameOf(r.toString)))
            }
            if (!entries.exists(superseded)) Some(mf)
            else {
              require(mSpecId <= 1,
                s"$table: a superseded deletion vector rides a foreign-spec " +
                  s"manifest (spec $mSpecId) this writer cannot re-mint; " +
                  "OPTIMIZE the table before further merge-on-read DML")
              val kept = entries
                .filter(e => e.getInt(0) != 2 && !superseded(e)).map { e =>
                  val sq = e.get(2) match { case l: java.lang.Long => l
                    case _ => java.lang.Long.valueOf(mf.getLong(4)) }
                  val sn = e.get(1) match { case l: java.lang.Long => l
                    case _ => java.lang.Long.valueOf(mf.getLong(6)) }
                  Row(0, sn, sq, e.get(3), e.get(4))
                }
              if (kept.isEmpty) None
              else {
                val (p, len) = writeManifest(kept, "deletes",
                  specId = mSpecId, withDv = true)
                val minSeq = kept.map(_.getLong(2)).min
                Some(Row(p.toAbsolutePath.toString, len, mSpecId, 1, seq,
                  minSeq, snapshotId, 0, kept.size, 0, 0L,
                  kept.map(_.getStruct(4).getLong(4)).sum, 0L))
              }
            }
          }
        val carriedDeletes: Seq[Row] =
          if (dropDeletes) Seq.empty
          else if (priorDeletes.size +
              (if (deleteAdded.isEmpty) 0 else 1) <= mergeMinCount) priorDeletes
          else priorDeletes.groupBy(_.getInt(2)).toSeq.flatMap {
            // a manifest has ONE partition spec — coalesce within each
            // spec group (pre-r12 delete manifests rode spec 0; fresh
            // global delete manifests ride the unpartitioned spec)
            case (mSpecId, group) =>
            val (small, large) = group.partition(_.getLong(1) < mergeTargetBytes)
            // manifests under a FOREIGN spec (an adopted third-party
            // table's history) carry forward unmerged: writeManifest can
            // only re-mint the two specs this engine defines, and a
            // rewritten manifest must keep its spec's partition struct
            if (small.size < 2 || mSpecId > 1) group
            else {
              val merged = small.flatMap { mf =>
                readEntries(mf.getString(0),
                  cur.map(partTypeOfSpec(_, mSpecId))
                    .getOrElse(writePartTypeOfSpec(mSpecId, partType)))
                  .filter(_.getInt(0) != 2) // drop tombstones; ADDED → EXISTING
                  .map { e =>
                    // inherited (null) numbers MATERIALIZE from the list
                    // row — the merged manifest loses the original
                    // inheritance context
                    val sq = e.get(2) match { case l: java.lang.Long => l
                      case _ => java.lang.Long.valueOf(mf.getLong(4)) }
                    val sn = e.get(1) match { case l: java.lang.Long => l
                      case _ => java.lang.Long.valueOf(mf.getLong(6)) }
                    Row(0, sn, sq, e.get(3), e.get(4))
                  }
              }
              if (merged.isEmpty) large
              else {
                val (p, len) = writeManifest(merged, "deletes",
                  specId = mSpecId, withDv = fv == 3)
                val minSeq = merged.map(_.getLong(2)).min
                large :+ Row(p.toAbsolutePath.toString, len, mSpecId, 1,
                  seq, minSeq, snapshotId, 0, merged.size, 0, 0L,
                  merged.map(_.getStruct(4).getLong(4)).sum, 0L)
              }
            }
          }
        val listRows: Seq[Row] = (survivors match {
          case Some(rows) =>
            // replace: a fresh list — survivors (EXISTING, keeping their
            // own sequence numbers) + the added manifest
            if (rows.isEmpty) addedManifestRow.toSeq
            else {
              val (p, len) = writeManifest(rows.map(e =>
                Row(0, e.get(1), e.get(2), e.get(3), e.get(4))))
              val minSeq = rows.map(e => e.getLong(2)).min
              addedManifestRow.toSeq :+
                Row(p.toAbsolutePath.toString, len, 0, 0, seq, minSeq, snapshotId,
                  0, rows.size, 0, 0L,
                  rows.map(_.getStruct(4).getLong(4)).sum, 0L)
            }
          case None =>
            // fast append: carry every prior manifest forward, merging the
            // small DATA ones once the list passes mergeMinCount — the
            // manifest list stays O(large manifests), not O(commits)
            if (priorData.size + 1 <= mergeMinCount) priorData ++ addedManifestRow
            else {
              // only spec-0 manifests merge — a foreign-spec data
              // manifest (adopted third-party history) carries forward
              // unmerged, same rule as the delete side
              val (small, large) = priorData.partition(r =>
                r.getLong(1) < mergeTargetBytes && r.getInt(2) == 0)
              if (small.size < 2) priorData ++ addedManifestRow
              else {
                val merged = small.flatMap(mf =>
                  readEntries(mf.getString(0), partType))
                  .filter(_.getInt(0) != 2) // drop tombstones; ADDED → EXISTING
                  .map(e => Row(0, e.get(1), e.get(2), e.get(3), e.get(4)))
                if (merged.isEmpty) large ++ addedManifestRow
                else {
                  val (p, len) = writeManifest(merged)
                  val minSeq = merged.map(_.getLong(2)).min
                  val mergedRow = Row(p.toAbsolutePath.toString, len, 0, 0,
                    seq, minSeq, snapshotId, 0, merged.size, 0, 0L,
                    merged.map(_.getStruct(4).getLong(4)).sum, 0L)
                  (large :+ mergedRow) ++ addedManifestRow
                }
              }
            }
        }) ++ carriedDeletes ++ deleteManifestRow
        val listPath = dir.resolve(s"snap-$snapshotId-1-${UUID.randomUUID()}.avro")
        val lOut = Files.newOutputStream(listPath)
        try AvroCodec.writeOcf(lOut, manifestFileType, listRows.iterator,
          schemaJsonOverride = Some(manifestFileSchemaJson),
          extraMeta = Seq(
            "format-version" -> fv.toString,
            "snapshot-id" -> snapshotId.toString,
            "sequence-number" -> seq.toString,
            "parent-snapshot-id" -> parentId.map(_.toString).getOrElse("null")))
        finally lOut.close()
        cleanup += listPath

        // 3) the new table metadata
        val root = mapper.createObjectNode()
        root.put("format-version", fv)
        root.put("table-uuid", tableUuid)
        root.put("location", Paths.get(table).toAbsolutePath.toString)
        root.put("last-sequence-number", seq)
        root.put("last-updated-ms", now)
        // never decreases: a DROPPED column's id stays retired even
        // though no current field carries it
        root.put("last-column-id", math.max(
          cur.map(_.lastColumnId).getOrElse(0),
          fieldIdOf.values.foldLeft(0)(math.max)))
        root.put("current-schema-id", schemaId)
        val schemasArr = mapper.createArrayNode()
        allSchemas.foreach(schemasArr.add)
        root.set[com.fasterxml.jackson.databind.JsonNode]("schemas", schemasArr)
        root.put("default-spec-id", 0)
        val spec = mapper.createObjectNode()
        spec.put("spec-id", 0)
        spec.set[com.fasterxml.jackson.databind.JsonNode]("fields",
          mapper.readTree(partitionSpecFieldsJson(schema, partitionBy, fieldIdOf)))
        val specsArr = mapper.createArrayNode().add(spec)
        if (partitionBy.nonEmpty) {
          // spec 1: the UNPARTITIONED spec global delete manifests ride
          // (readers resolve a manifest's partition struct by this id)
          val uspec = mapper.createObjectNode()
          uspec.put("spec-id", 1)
          uspec.set[com.fasterxml.jackson.databind.JsonNode]("fields",
            mapper.createArrayNode())
          specsArr.add(uspec)
        }
        root.set[com.fasterxml.jackson.databind.JsonNode]("partition-specs",
          specsArr)
        root.put("last-partition-id", 999 + partitionBy.size)
        root.put("default-sort-order-id", 0)
        val order = mapper.createObjectNode()
        order.put("order-id", 0)
        order.set[com.fasterxml.jackson.databind.JsonNode]("fields", mapper.createArrayNode())
        root.set[com.fasterxml.jackson.databind.JsonNode]("sort-orders",
          mapper.createArrayNode().add(order))
        // properties carry forward (expireSnapshots parks txn high-water
        // marks there; dropping them would re-open the replay window)
        val props = mapper.createObjectNode()
        cur.foreach(_.properties.foreach { case (k, v) => props.put(k, v) })
        // column-projection fallback for files WITHOUT parquet field ids
        // (pre-r12 files, third-party imports): the spec's name-mapping
        // property, refreshed so it always matches the commit schema
        props.put("schema.name-mapping.default", nameMappingJson(schema, fieldIdOf))
        root.set[com.fasterxml.jackson.databind.JsonNode]("properties", props)
        root.put("current-snapshot-id", snapshotId)
        val refs = mapper.createObjectNode()
        // foreign refs carry FORWARD (a third-party tag dropped on our
        // commit would silently break its time travel); main advances
        cur.foreach(m => Option(m.node.get("refs")).foreach(r =>
          r.properties().asScala.foreach { e =>
            if (e.getKey != "main")
              refs.set[com.fasterxml.jackson.databind.JsonNode](
                e.getKey, e.getValue.deepCopy[com.fasterxml.jackson.databind.JsonNode]())
          }))
        val main = refs.putObject("main")
        main.put("snapshot-id", snapshotId)
        main.put("type", "branch")
        root.set[com.fasterxml.jackson.databind.JsonNode]("refs", refs)
        val snaps = mapper.createArrayNode()
        cur.foreach(_.snapshots.foreach(snaps.add))
        // v3 row lineage: `next-row-id` advances by the rows this
        // snapshot adds; the snapshot records its assigned range start
        // (`first-row-id`). This writer does not stamp per-file
        // first_row_id (readers assign from the snapshot range).
        if (fv == 3) {
          val base = cur.map(_.nextRowId).getOrElse(0L)
          root.put("next-row-id", base + added.map(_.records).sum)
        }
        val snap = mapper.createObjectNode()
        snap.put("snapshot-id", snapshotId)
        parentId.foreach(snap.put("parent-snapshot-id", _))
        snap.put("sequence-number", seq)
        snap.put("timestamp-ms", now)
        snap.put("manifest-list", listPath.toAbsolutePath.toString)
        snap.put("schema-id", schemaId)
        if (fv == 3) snap.put("first-row-id", cur.map(_.nextRowId).getOrElse(0L))
        val summary = snap.putObject("summary")
        summary.put("operation", operation)
        summary.put("added-data-files", added.size.toString)
        summary.put("added-records", added.map(_.records).sum.toString)
        if (replaced.nonEmpty)
          summary.put("deleted-data-files", replaced.size.toString)
        if (deleteAdded.nonEmpty) {
          summary.put("added-delete-files", deleteAdded.size.toString)
          summary.put("added-position-deletes",
            deleteAdded.map(_.records).sum.toString)
        }
        txn.foreach { case (app, v) =>
          summary.put("graft.txn.app", app)
          summary.put("graft.txn.version", v.toString)
        }
        snaps.add(snap)
        root.set[com.fasterxml.jackson.databind.JsonNode]("snapshots", snaps)
        val slog = mapper.createArrayNode()
        cur.foreach { m =>
          val prevLog = m.node.get("snapshot-log")
          if (prevLog != null) (0 until prevLog.size()).foreach(i => slog.add(prevLog.get(i)))
        }
        val sle = mapper.createObjectNode()
        sle.put("timestamp-ms", now)
        sle.put("snapshot-id", snapshotId)
        slog.add(sle)
        root.set[com.fasterxml.jackson.databind.JsonNode]("snapshot-log", slog)
        root.set[com.fasterxml.jackson.databind.JsonNode]("metadata-log", mapper.createArrayNode())

        // 4) atomic claim of v<N+1>.metadata.json
        val bytes = root.toString.getBytes("UTF-8")
        val tmp = dir.resolve(s".${UUID.randomUUID()}.tmp")
        Files.write(tmp, bytes)
        val target = dir.resolve(s"v$newVersion.metadata.json")
        try {
          try Files.createLink(target, tmp)
          catch { case _: UnsupportedOperationException =>
            // same-dir rename, no REPLACE_EXISTING: put-if-absent with
            // full-content visibility (CREATE_NEW content writes tear)
            Files.move(tmp, target)
          }
          Files.deleteIfExists(tmp)
          // the hint may lag behind (spec: readers fall back to listing)
          Files.write(dir.resolve("version-hint.text"),
            newVersion.toString.getBytes("UTF-8"))
          return Some(newVersion)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // lost the version race: discard this attempt's avro files and retry
            Files.deleteIfExists(tmp)
            cleanup.foreach(Files.deleteIfExists(_))
            cleanup.clear()
        }
      } catch {
        case e: Throwable =>
          cleanup.foreach(Files.deleteIfExists(_))
          throw e
      }
    }
    sys.error(s"iceberg commit lost $attempt version races; giving up")
  }

  private def partitionSpecFieldsJson(schema: StructType,
      partitionBy: Seq[String], ids: Map[String, Int]): String = {
    val fields = partitionBy.zipWithIndex.map { case (c, i) =>
      s"""{"name":"$c","transform":"identity","source-id":${ids.getOrElse(c, schema.fieldIndex(c) + 1)},"field-id":${1000 + i}}"""
    }
    s"[${fields.mkString(",")}]"
  }

  // ── read path ────────────────────────────────────────────────────────

  private[graft] def readManifestList(path: String): Seq[Row] =
    cachedDecode(path, "list") {
      val in = Files.newInputStream(localPath(path))
      // own shape → positional; third-party lists (extra fields like
      // partitions 507 / key_metadata 519, java's renamed count fields,
      // any order) → name-resolved, binding by field id
      try AvroCodec.readOcfResolvingRows(in, meta =>
        if (meta.getOrElse("avro.schema", "") == manifestFileSchemaJson)
          Left(manifestFileType)
        else Right(manifestFileType)).toSeq
      finally in.close()
    }

  // ── merge-on-read deletes (format v2) ──────────────────────────────────
  // Spec shape: a DELETES manifest (manifest-list content=1) lists
  // delete files. POSITION deletes (data_file content=1) carry
  // (file_path: string, pos: long) rows — field ids 2147483546/
  // 2147483545, reserved by the spec — sorted by (file_path, pos); a
  // row is live iff no delete file names its (file, position).
  // Path-targeted deletes make the v2 sequence rule vacuous for them:
  // data file names are UNIQUE BY CONSTRUCTION (fresh UUID name per
  // linked file), so a delete row can never bind to a file created
  // after it — asserted loudly wherever the name is a join key.
  // EQUALITY deletes (content=2) carry the VALUES of their equality
  // columns and retract every matching row in data files with a
  // STRICTLY SMALLER data sequence number — the rule that lets a
  // streaming upsert commit without reading the target at all
  // ([[upsertAppend]]): the same commit's own appends are exempt by
  // sequence. This reader derives a delete file's equality columns
  // from its manifest entry's value_counts keys (the columns the file
  // carries, harvested at write under the table-schema field ids).

  private[graft] val deletePathFieldId = 2147483546
  private[graft] val deletePosFieldId = 2147483545
  private[graft] val deleteFileSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** One delete file of a snapshot: `content` 1 = position, 2 =
    * equality. Bounds drive clean-file skipping (file_path bounds for
    * position deletes, equality-column bounds for equality deletes);
    * `seq` drives the v2 applicability rule for equality deletes.
    */
  private[graft] final case class DeleteFile(content: Int, path: String,
      size: Long, records: Long, seq: Long, addedSnapshotId: Long,
      valueCounts: Map[Int, Long],
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      equalityIds: Option[Seq[Int]],
      entryRow: Row,
      /** The manifest entry's partition values (empty for GLOBAL
        * deletes on the unpartitioned spec): a PARTITION-SCOPED delete
        * applies only to data files in the same partition — the spec's
        * pruning rule, what confines the anti-join rent.
        */
      partition: Seq[(String, Any)] = Seq.empty,
      /** v3 DELETION VECTOR triple (manifest fields 143-145): `path`
        * then names a puffin file and the blob reads at
        * [contentOffset, +contentSize) — one DV per referenced data
        * file, superseding position-delete rows for it.
        */
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None) {
    def isDv: Boolean = contentOffset.isDefined
    def pathLo: Option[String] = lower.get(deletePathFieldId)
      .map(b => boundValue(b, StringType).asInstanceOf[String])
    def pathHi: Option[String] = upper.get(deletePathFieldId)
      .map(b => boundValue(b, StringType).asInstanceOf[String])
    /** Equality-column field ids: the entry's `equality_ids` (the spec's
      * REQUIRED identification — a third-party delete file may carry
      * MORE columns than it matches on), falling back to the columns
      * the file carries per value_counts for pre-r12 manifests.
      */
    def eqFieldIds: Seq[Int] = equalityIds.filter(_.nonEmpty)
      .map(_.sorted).getOrElse(valueCounts.keys.toSeq.sorted)
  }

  /** The snapshot's delete files (manifest-list content=1): position
    * (content=1) and equality (content=2). Anything else inside a
    * DELETES manifest is rejected loudly, never over-returned.
    */
  private[graft] def deleteFiles(table: String, snapshotId: Option[Long])
      : Seq[DeleteFile] = {
    val m = current(table).getOrElse(return Seq.empty)
    val sid = snapshotId.getOrElse(m.currentSnapshotId)
    if (sid <= 0) return Seq.empty
    val snap = m.snapshots.find(_.get("snapshot-id").asLong() == sid)
      .getOrElse(sys.error(s"$table has no snapshot $sid"))
    readManifestList(snap.get("manifest-list").asText())
      .filter(_.getInt(3) == 1).flatMap { mf =>
        val mPartType = partTypeOfSpec(m, mf.getInt(2))
        readEntries(mf.getString(0), mPartType)
          .filter(_.getInt(0) != 2).map { e =>
            val df = e.getStruct(4)
            require(df.getInt(0) == 1 || df.getInt(0) == 2,
              s"$table: DELETES manifest entry ${df.getString(1)} has " +
                s"content=${df.getInt(0)} (a data file inside a DELETES " +
                "manifest); refusing to return over-counted rows.")
            // the spec's REQUIRED identification of an equality delete's
            // columns is data_file.equality_ids (field 135); the
            // value_counts derivation survives only as a loudly-logged
            // fallback for pre-r12 manifests / metrics-only writers. An
            // entry carrying neither is unusable — ignoring it would
            // silently over-return rows
            val eqIds: Option[Seq[Int]] = Option(df.get(10)).map(
              _.asInstanceOf[scala.collection.Seq[Any]]
                .map(_.asInstanceOf[Int]).toSeq)
            require(df.getInt(0) != 2 ||
              eqIds.exists(_.nonEmpty) || kvMap[Long](df.get(6)).nonEmpty,
              s"$table: equality-delete file ${df.getString(1)} carries " +
                "neither equality_ids nor value_counts metrics, so its " +
                "equality columns cannot be determined; refusing to " +
                "return over-counted rows.")
            if (df.getInt(0) == 2 && !eqIds.exists(_.nonEmpty))
              Console.err.println(s"[iceberg] $table: equality-delete " +
                s"file ${df.getString(1)} has no equality_ids (pre-r12 " +
                "writer?); deriving its equality columns from " +
                "value_counts keys — a third-party file with metrics " +
                "for non-key columns would be misread by this fallback")
            // null sequence/snapshot numbers INHERIT from the manifest
            // list (the v2 inheritance rule third-party writers rely
            // on); coercing to 0 would exempt every data file from the
            // delete — silent over-return
            // v3 deletion vectors: file_format=puffin position deletes
            // MUST carry the blob triple (spec fields 143-145); a
            // puffin entry without it is unreadable — refuse, never
            // over-return the rows it would have deleted
            val isPuffin = df.getString(2) != null &&
              df.getString(2).equalsIgnoreCase("puffin")
            val refFile = Option(df.get(11)).map(_.asInstanceOf[String])
            val cOff = Option(df.get(12)).map(_.asInstanceOf[Long])
            val cSize = Option(df.get(13)).map(_.asInstanceOf[Long])
            if (isPuffin) {
              require(df.getInt(0) == 1,
                s"$table: puffin delete file ${df.getString(1)} has " +
                  s"content=${df.getInt(0)}; deletion vectors are position " +
                  "deletes (content=1) — refusing to guess")
              require(refFile.isDefined && cOff.isDefined && cSize.isDefined,
                s"$table: puffin deletion vector ${df.getString(1)} lacks " +
                  "referenced_data_file/content_offset/content_size_in_bytes " +
                  "(manifest fields 143-145); refusing to over-return its rows")
            }
            DeleteFile(df.getInt(0), df.getString(1), df.getLong(5),
              df.getLong(4),
              e.get(2) match { case l: java.lang.Long => l
                case _ => mf.getLong(4) },
              e.get(1) match { case l: java.lang.Long => l
                case _ => mf.getLong(6) },
              kvMap[Long](df.get(6)),
              kvMap[Array[Byte]](df.get(8)), kvMap[Array[Byte]](df.get(9)),
              eqIds,
              e,
              partition = mPartType.fieldNames.toSeq
                .zip(df.getStruct(3).toSeq),
              referencedDataFile = if (isPuffin) refFile else None,
              contentOffset = if (isPuffin) cOff else None,
              contentSize = if (isPuffin) cSize else None)
          }
      }
  }

  /** Does equality-delete `d` possibly apply to data file `f`? The v2
    * sequence rule (strictly-older data only), the partition rule (a
    * PARTITION-SCOPED delete applies only inside its own partition —
    * the spec's pruning contract), plus per-column bounds overlap — a
    * column PROVABLY disjoint exonerates the file; any unknown is
    * conservative.
    */
  /** Decoded-value equality for partition comparison: Array[Byte]
    * (binary identity partitions) compares by CONTENT — universal ==
    * is reference equality there, which would silently exonerate every
    * binary-partitioned delete (over-returning its rows).
    */
  private def pvEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  /** The spec's partition rule: a PARTITION-SCOPED delete applies only
    * to data files in the same partition. Shared by the file-level
    * pruning AND the join-level scoping — enforcing it only at file
    * level would let one partition's delete rows kill matching keys in
    * a file made dirty by ANOTHER partition's delete (silent
    * under-return).
    */
  private def partitionScopeMatches(f: LiveFile,
      scope: Seq[(String, Any)]): Boolean =
    scope.forall { case (c, v) =>
      f.partitionValues.get(c).forall(fv =>
        if (fv == null || v == null) fv == null && v == null else pvEq(fv, v))
    }

  private def eqApplies(f: LiveFile, d: DeleteFile,
      byId: Map[Int, StructField]): Boolean =
    d.seq > f.dataSeq &&
    partitionScopeMatches(f, d.partition) &&
    d.eqFieldIds.forall { id =>
      if (!byId.contains(id)) true // unknown column: conservative
      else {
        val dt = byId(id).dataType
        val overlap = for {
          dlo <- d.lower.get(id); dhi <- d.upper.get(id)
          flo <- f.lowerBounds.get(id); fhi <- f.upperBounds.get(id)
        } yield StatsPruning.compareValues(boundValue(dlo, dt), boundValue(fhi, dt), dt) <= 0 &&
          StatsPruning.compareValues(boundValue(flo, dt), boundValue(dhi, dt), dt) <= 0
        // missing bounds (e.g. null-keyed delete rows collapse the
        // stats) cannot exonerate — matches <=> null-key semantics
        overlap.getOrElse(true)
      }
    }

  /** Split data files into (clean, dirty) against the delete files —
    * position deletes by file_path bounds, equality deletes by the
    * sequence rule + equality-column bounds overlap. Only dirty files
    * pay an anti-join; missing bounds dirty everything (conservative).
    *
    * Position deletes judge via a path-sorted binary search —
    * O(D log F + dirty), not O(D × F): a delete file's rows all name
    * paths inside its own bounds, so at the 10⁶-file ceiling a linear
    * judge would burn 10⁹ string compares per read plan for 10³ delete
    * files. Equality deletes stay a per-pair bounds check (their count
    * is kept small by the delete-manifest coalescing + OPTIMIZE purge).
    */
  private[graft] def splitByDeletes(files: Seq[LiveFile], dels: Seq[DeleteFile],
      schema: StructType,
      ids: Map[String, Int] = Map.empty): (Seq[LiveFile], Seq[LiveFile]) = {
    if (dels.isEmpty) return (files, Seq.empty)
    val byId = fieldsById(schema, ids)
    val (posDels0, eqDels) = dels.partition(_.content == 1)
    val (dvDels, posDels) = posDels0.partition(_.isDv)
    val dirty = new Array[Boolean](files.length)
    if (dvDels.nonEmpty) {
      // a DV names its data file (field 143): only that file is dirty.
      // Keyed by FILE NAME, the same association the read applies —
      // keying one stage by full path and the other by name would let a
      // path-form mismatch (file: URI vs plain, a rewriting tool's
      // normalization) silently skip the DV and re-return deleted rows.
      // A DV whose referenced file is no longer live is inert (the file
      // was rewritten/removed after the DV landed)
      val idxByName = files.zipWithIndex
        .map { case (f, i) => fileNameOf(f.path) -> i }.toMap
      dvDels.foreach(d =>
        d.referencedDataFile.map(fileNameOf).flatMap(idxByName.get)
          .foreach(dirty(_) = true))
    }
    if (posDels.nonEmpty) {
      val byPath = files.zipWithIndex.sortBy(_._1.path).toArray
      val paths = byPath.map(_._1.path)
      posDels.foreach { d =>
        (d.pathLo, d.pathHi) match {
          case (Some(lo), Some(hi)) =>
            var i = lowerBound(paths, lo)
            while (i < paths.length && paths(i) <= hi) {
              dirty(byPath(i)._2) = true
              i += 1
            }
          case _ => // boundless delete file: conservative, all dirty
            byPath.foreach { case (_, idx) => dirty(idx) = true }
        }
      }
    }
    if (eqDels.nonEmpty)
      files.zipWithIndex.foreach { case (f, i) =>
        if (!dirty(i) && eqDels.exists(d => eqApplies(f, d, byId)))
          dirty(i) = true
      }
    val (d, c) = files.zipWithIndex.partition { case (_, i) => dirty(i) }
    (c.map(_._1), d.map(_._1))
  }

  /** First index in sorted `a` with a(i) >= key. */
  private def lowerBound(a: Array[String], key: String): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def fileNameOf(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** The name-as-join-key soundness guard: every file entering a
    * name-keyed delete join must have a distinct file name. New files
    * get fresh UUID names at link time, so this only trips on tables
    * hand-assembled from foreign parts — fail loudly, never mis-delete.
    */
  private def requireUniqueNames(table: String, paths: Seq[String],
      what: String): Unit = {
    val dup = paths.groupBy(fileNameOf).find(_._2.size > 1)
    dup.foreach { case (n, ps) => sys.error(
      s"$table: $what share the file name $n (${ps.mkString(", ")}); " +
        "position deletes key on unique names. Rewrite the table " +
        "(OPTIMIZE) before mixing in merge-on-read deletes.") }
  }

  private val posNameCol = "__graft_pos_name"
  private[graft] val posFileCol = "__graft_file"
  private[graft] val posPosCol = "__graft_pos"

  private val dataSeqCol = "__graft_data_seq"
  private val eqSeqCol = "__graft_eq_seq"

  /** Read `dirty` data files with their applicable deletes applied:
    * POSITION deletes anti-join on (file name, `_metadata.row_index`);
    * EQUALITY deletes anti-join per equality-column group on null-safe
    * key equality UNDER the v2 sequence rule (`del.seq > data.seq`,
    * both attached via broadcast name→seq lookups) — each side
    * broadcast when small. Returns schema-ordered columns (plus, when
    * `withMeta`, the manifest-form absolute path `__graft_file` and
    * position `__graft_pos` — what a MoR writer needs to target rows).
    */
  private[graft] def readWithDeletes(spark: SparkSession, table: String,
      schema: StructType, basePath: Option[String], dirty: Seq[LiveFile],
      dels: Seq[DeleteFile], withMeta: Boolean = false,
      ids: Map[String, Int] = Map.empty,
      /** v3 initial-default fills EVERY file of `dirty` must take (the
        * caller groups by fill class), applied right after the scan —
        * BEFORE the equality anti-joins below, because an equality
        * delete keys on the row's LOGICAL value: a delete on `k = 7`
        * must retract rows of a pre-field file whose logical `k` is the
        * default 7, which the raw bytes read as null (r17 review fix).
        */
      fills: Seq[(StructField, Any)] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, substring_index}
    import spark.implicits._
    requireUniqueNames(table, dirty.map(_.path), "live data files")
    val byId = fieldsById(schema, ids)
    val (dvDels, posDels) = dels.filter(_.content == 1).partition(_.isDv)
    // grouped by (equality columns, PARTITION SCOPE): each group's
    // anti-join is restricted to the files its scope covers, so a
    // scoped delete can never retract matching keys from a file another
    // partition's delete dirtied
    val eqGroups = dels.filter(_.content == 2)
      .groupBy(d => (d.eqFieldIds, d.partition)).toSeq
    // scoped field-id read (r17): the scan + its _metadata projections
    // compile inside the fence; the delete joins below stay outside
    var d = FencedScan(spark, schema) {
      val r0 = spark.read.schema(schema)
      val r = basePath.map(r0.option("basePath", _)).getOrElse(r0)
      r.parquet(dirty.map(_.path): _*)
        .withColumn(posNameCol,
          substring_index(col("_metadata.file_path"), "/", -1))
        .withColumn(posPosCol, col("_metadata.row_index"))
    }
    d = fills.foldLeft(d) { case (d0, (sf, v)) =>
      d0.withColumn(sf.name, lit(v).cast(sf.dataType)) }
    if (dvDels.nonEmpty) {
      // v3 DELETION VECTORS: one roaring bitmap per referenced data
      // file, loaded driver-side (bounded by the DV count) and filtered
      // via the same codegen'd broadcast probe the delta DV read uses —
      // no anti-join, clean rows pay one hash probe. v3 writers keep at
      // most one DV per file; a duplicate unions conservatively
      val byName: Map[String, DeletionVectors.Bitmap] = dvDels
        .groupBy(d0 => fileNameOf(d0.referencedDataFile.get))
        .map { case (n, ds) =>
          n -> ds.map(d0 => DeletionVectors.loadIcebergDv(
              localPath(d0.path), d0.contentOffset.get, d0.contentSize.get))
            .reduce((a, b) => DeletionVectors.union(a, b.positions))
        }
      val bc = spark.sparkContext.broadcast(byName)
      d = d.filter(org.apache.spark.sql.GraftShim.column(graft.functions.DvAliveF(
        org.apache.spark.sql.GraftShim.expression(col(posNameCol)),
        org.apache.spark.sql.GraftShim.expression(col(posPosCol)), bc)))
    }
    if (eqGroups.nonEmpty)
      // each row's own data sequence number, for the eq applicability rule
      d = d.join(broadcast(dirty.map(f => (fileNameOf(f.path), f.dataSeq))
        .toDF(posNameCol, dataSeqCol)), posNameCol)
    if (posDels.nonEmpty) {
      val delDf0 = spark.read.schema(deleteFileSchema)
        .parquet(posDels.map(_.path): _*)
        .select(substring_index(col("file_path"), "/", -1).as(posNameCol),
          col("pos").as(posPosCol))
      // ~24B a row: 4M rows ≈ 100MB broadcast, the autoBroadcast ceiling
      val delDf = if (posDels.map(_.records).sum <= 4000000L)
        broadcast(delDf0) else delDf0
      d = d.join(delDf, Seq(posNameCol, posPosCol), "left_anti")
    }
    eqGroups.foreach { case ((eqIds, scope), files) =>
      // the scope confines the anti-join to ITS partition's files —
      // every row of a file shares the file's partition, so file-name
      // granularity is exact. A scoped group whose partition holds no
      // dirty file contributes nothing.
      val applicable: Seq[String] =
        if (scope.isEmpty) Seq.empty // unscoped: every dirty file
        else dirty.filter(partitionScopeMatches(_, scope))
          .map(f => fileNameOf(f.path))
      if (scope.isEmpty || applicable.nonEmpty) {
        // an eq id outside the current schema (its key column was since
        // DROPPED) cannot be applied — refusing beats over-returning
        def fieldOf(id: Int): StructField = byId.getOrElse(id, sys.error(
          s"$table: equality-delete file keys on field id $id, which no " +
            "current column carries (dropped?) — OPTIMIZE the table to " +
            "purge stale deletes, then read"))
        val names = eqIds.map(id => fieldOf(id).name)
        requireUniqueNames(table, files.map(_.path), "equality-delete files")
        val eqSchema = StructType(eqIds.map(id =>
          fieldOf(id).copy(nullable = true)))
        // pre-rename EQUALITY-delete files carry the OLD key-column
        // names — the fenced id read is what binds them (r17)
        val eq0 = FencedScan(spark, eqSchema) {
          spark.read.schema(eqSchema).parquet(files.map(_.path): _*)
            .withColumn(posNameCol,
              substring_index(col("_metadata.file_path"), "/", -1))
        }
          .join(broadcast(files.map(f => (fileNameOf(f.path), f.seq))
            .toDF(posNameCol, eqSeqCol)), posNameCol)
          .select((names.map(n => col(n).as(s"__graft_eq_$n")) :+ col(eqSeqCol)): _*)
        val eq = if (files.map(_.records).sum <= 4000000L) broadcast(eq0) else eq0
        val scopeCond =
          if (scope.isEmpty) org.apache.spark.sql.functions.lit(true)
          else d(posNameCol).isin(applicable: _*)
        val cond = names.map(n => d(n) <=> eq(s"__graft_eq_$n")).reduce(_ && _) &&
          eq(eqSeqCol) > d(dataSeqCol) && scopeCond
        d = d.join(eq, cond, "left_anti")
      }
    }
    if (!withMeta) d.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    else {
      // name → manifest-form absolute path, driver-built from the plan
      // (bounded by the pruned candidate count, metadata scale)
      val lookup = broadcast(dirty.map(f => (fileNameOf(f.path), f.path))
        .toDF(posNameCol, posFileCol))
      d.join(lookup, posNameCol)
        .select((schema.fieldNames.toIndexedSeq :+ posFileCol :+ posPosCol)
          .map(col): _*)
    }
  }

  /** The rows a set of position-delete files RETRACT, read from the
    * data files they reference (semi-join on name+pos), schema order —
    * the per-row changelog of a merge-on-read snapshot.
    */
  private def positionDeleteRows(spark: SparkSession, table: String,
      schema: StructType, basePath: String, dirty: Seq[String],
      dels: Seq[DeleteFile]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    if (dirty.isEmpty || dels.isEmpty) return None
    val delDf0 = spark.read.schema(deleteFileSchema).parquet(dels.map(_.path): _*)
      .select(substring_index(col("file_path"), "/", -1).as(posNameCol),
        col("pos").as(posPosCol))
    val delDf = if (dels.map(_.records).sum <= 4000000L) broadcast(delDf0) else delDf0
    retractedAt(spark, table, schema, basePath, dirty, delDf)
  }

  /** Semi-join core of the retraction changelog: the rows of `dirty`
    * whose (file name, row index) appear in `positions`.
    */
  private def retractedAt(spark: SparkSession, table: String,
      schema: StructType, basePath: String, dirty: Seq[String],
      positions: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, substring_index}
    if (dirty.isEmpty) return None
    requireUniqueNames(table, dirty, "live data files")
    Some(FencedScan(spark, schema) {
      spark.read.schema(schema).option("basePath", basePath).parquet(dirty: _*)
        .withColumn(posNameCol,
          substring_index(col("_metadata.file_path"), "/", -1))
        .withColumn(posPosCol, col("_metadata.row_index"))
    }
      .join(positions, Seq(posNameCol, posPosCol), "left_semi")
      .select(schema.fieldNames.map(col).toIndexedSeq: _*))
  }

  /** The rows newly retracted by this snapshot's DELETION VECTORS: each
    * DV supersedes the referenced file's PARENT DV, so the delta is
    * (new bitmap) minus (parent bitmap) — materialized driver-side
    * (bounded by the commit's own deleted-row count, like any change
    * frame) and semi-joined against the referenced files. A parquet
    * position delete in the parent possibly covering the same file
    * makes the diff ambiguous (pre-upgrade leftovers) — refuse loudly.
    */
  private def dvDeleteRows(spark: SparkSession, table: String,
      schema: StructType, basePath: String, parentLive: Seq[LiveFile],
      parentDels: Seq[DeleteFile], dvNew: Seq[DeleteFile]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.broadcast
    import spark.implicits._
    if (dvNew.isEmpty) return None
    // file-NAME keyed throughout (names are unique by invariant): a
    // path-form mismatch between manifests must not orphan the diff
    val liveByName = parentLive.map(f => fileNameOf(f.path) -> f.path).toMap
    val parentByRef: Map[String, DeleteFile] = parentDels
      .filter(d => d.isDv && d.referencedDataFile.isDefined)
      .map(d => fileNameOf(d.referencedDataFile.get) -> d).toMap
    val parentPlainPos = parentDels.filter(d => d.content == 1 && !d.isDv)
    val pairs: Seq[(String, Long)] = dvNew.flatMap { d =>
      val ref = d.referencedDataFile.get
      val name = fileNameOf(ref)
      require(!parentPlainPos.exists(p => (p.pathLo, p.pathHi) match {
        case (Some(lo), Some(hi)) => lo <= ref && ref <= hi
        case _ => true // boundless: cannot exonerate
      }), s"$table: changelog for a deletion vector on $ref while the " +
        "parent snapshot still carries parquet position deletes that may " +
        "cover it is ambiguous; OPTIMIZE the table first")
      if (!liveByName.contains(name)) Seq.empty // file rewritten: DV inert
      else {
        val nb = DeletionVectors.loadIcebergDv(
          localPath(d.path), d.contentOffset.get, d.contentSize.get)
        val pb = parentByRef.get(name).map(p => DeletionVectors.loadIcebergDv(
          localPath(p.path), p.contentOffset.get, p.contentSize.get))
        nb.positions.filter(pos => pb.forall(!_.contains(pos)))
          .map(name -> _).toSeq
      }
    }
    if (pairs.isEmpty) return None
    val dirty = dvNew.map(d => fileNameOf(d.referencedDataFile.get)).distinct
      .flatMap(liveByName.get)
    retractedAt(spark, table, schema, basePath, dirty,
      broadcast(pairs.toDF(posNameCol, posPosCol)))
  }

  /** The rows a set of EQUALITY-delete files retract: the parent
    * snapshot's LIVE rows (parent deletes applied — a key's already-
    * dead versions must not re-retract) whose key columns null-safe
    * match any delete row — per-equality-group semi-join, schema order.
    */
  private def equalityDeleteRows(spark: SparkSession, table: String,
      schema: StructType, basePath: String, parentLive: Seq[LiveFile],
      parentDels: Seq[DeleteFile], eqNew: Seq[DeleteFile],
      fieldIds: Map[String, Int],
      /** v3 initial-default fills every `parentLive` file shares (the
        * caller groups by fill class) — applied at scan time so the
        * key match below compares LOGICAL values (r17).
        */
      fills: Seq[(StructField, Any)] = Seq.empty): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // grouped by (equality columns, PARTITION SCOPE): splitByDeletes'
    // per-file partition rule then confines each group's dirty set to
    // exactly its own partition (one scope per group)
    eqNew.groupBy(d => (d.eqFieldIds, d.partition)).toSeq
      .flatMap { case ((ids, _), files) =>
      val (_, dirty) = splitByDeletes(parentLive, files, schema, fieldIds)
      if (dirty.isEmpty) None
      else {
        val byId = fieldsById(schema, fieldIds)
        val names = ids.map(id => byId(id).name)
        val eqSchema = StructType(ids.map(id =>
          byId(id).copy(nullable = true)))
        val keys0 = FencedScan(spark, eqSchema) {
          spark.read.schema(eqSchema).parquet(files.map(_.path): _*)
            .select(names.map(n => col(n).as(s"__graft_eq_$n")): _*)
        }.distinct() // the exchange stays OUTSIDE the fence
        val keys = if (files.map(_.records).sum <= 4000000L) broadcast(keys0)
          else keys0
        val liveRows = readWithDeletes(spark, table, schema, Some(basePath),
          dirty, parentDels, ids = fieldIds, fills = fills)
        val cond = names.map(n => liveRows(n) <=> keys(s"__graft_eq_$n"))
          .reduce(_ && _)
        Some(liveRows.join(keys, cond, "left_semi"))
      }
    }
  }

  /** A manifest entry's pruning-relevant projection. `dataSeq` is the
    * entry's data sequence number — what the equality-delete
    * applicability rule compares against.
    */
  private[graft] final case class LiveFile(status: Int, path: String,
      records: Long, size: Long, dataSeq: Long,
      partitionValues: Map[String, Any],
      valueCounts: Map[Int, Long], nullCounts: Map[Int, Long],
      lowerBounds: Map[Int, Array[Byte]], upperBounds: Map[Int, Array[Byte]],
      entryRow: Row)

  private def kvMap[T](v: Any): Map[Int, T] = v match {
    case null => Map.empty
    case s: scala.collection.Seq[_] =>
      s.map { case r: Row => r.getInt(0) -> r.get(1).asInstanceOf[T] }.toMap
  }

  private[graft] def liveFiles(table: String, snapshotId: Option[Long])
      : Seq[LiveFile] = {
    val m = current(table).getOrElse(return Seq.empty)
    val sid = snapshotId.getOrElse(m.currentSnapshotId)
    val snap = m.snapshots.find(_.get("snapshot-id").asLong() == sid)
      .getOrElse(sys.error(s"$table has no snapshot $sid"))
    // DELETES manifests (content=1) carry no data entries — they are
    // read by [[deleteFiles]] and applied by [[readWithDeletes]]
    readManifestList(snap.get("manifest-list").asText())
      .filter(_.getInt(3) == 0).flatMap { mf =>
      val mPartType = partTypeOfSpec(m, mf.getInt(2))
      readEntries(mf.getString(0), mPartType).map { e =>
        val df = e.getStruct(4)
        require(df.getInt(0) == 0,
          s"$table: data manifest ${mf.getString(0)} lists " +
            s"${df.getString(1)} with content=${df.getInt(0)} — delete " +
            "files belong in a DELETES manifest (spec); refusing to " +
            "guess this writer's semantics.")
        val part = df.getStruct(3)
        LiveFile(e.getInt(0), df.getString(1), df.getLong(4), df.getLong(5),
          // null sequence number INHERITS from the manifest list (the
          // v2 rule; 0 would wrongly subject the file to every
          // equality delete — or exempt third-party deletes entirely)
          e.get(2) match { case l: java.lang.Long => l
            case _ => mf.getLong(4) },
          // keyed by the MANIFEST's spec fields (identical to the table
          // partition columns for this engine's manifests; a foreign
          // non-default spec keeps its own names rather than
          // mis-associating values positionally)
          mPartType.fieldNames.zipWithIndex.map { case (c, i) => c -> part.get(i) }.toMap,
          kvMap[Long](df.get(6)), kvMap[Long](df.get(7)),
          kvMap[Array[Byte]](df.get(8)), kvMap[Array[Byte]](df.get(9)),
          e)
      }
    }
  }

  /** Manifest entries of a snapshot (spec/debug surface): (status,
    * file_path, record_count, file_size, partitionValues).
    */
  private[graft] def entries(table: String, snapshotId: Option[Long] = None)
      : Seq[(Int, String, Long, Long, Map[String, Any])] =
    liveFiles(table, snapshotId).map(f =>
      (f.status, f.path, f.records, f.size, f.partitionValues))

  /** Live files of a snapshot that MAY satisfy `scanFilter`, judged
    * against the manifest metrics (partition values + column bounds +
    * null counts). Conservative: a file is dropped only when a conjunct
    * is provably unsatisfiable on it. Returns (kept, totalLive) so
    * callers can report skip ratios.
    */
  private[graft] def planFiles(spark: SparkSession, table: String,
      snapshotId: Option[Long], scanFilter: Option[String])
      : (Seq[LiveFile], Int) = {
    val live = liveFiles(table, snapshotId).filter(_.status != 2)
    scanFilter.map(_.trim).filter(_.nonEmpty) match {
      case None => (live, live.size)
      case Some(f) =>
        val m = current(table).get
        val ids = m.fieldIdPaths // nested-leaf bounds prune too (r16)
        val conj = StatsPruning.conjunctsOf(spark, f)
        (live.filter(file =>
          conj.forall(c => StatsPruning.mayMatch(fileStats(file, m.schema, ids), c, m.schema))),
          live.size)
    }
  }

  /** [[StatsPruning.FileStats]] view of a manifest entry: bounds and
    * counts are keyed by the table's DECLARED field ids (`ids`; falls
    * back to schema position + 1 only for names outside it), byte
    * bounds decode per the spec's single-value serialization. Declared
    * ids matter twice: after this engine's own RENAME/DROP positions no
    * longer equal ids, and third-party tables may carry any id layout —
    * a positional lookup there reads ANOTHER column's bounds and can
    * wrongly prune.
    */
  private def fileStats(file: LiveFile, schema: StructType,
      ids: Map[String, Int]): StatsPruning.FileStats =
    new StatsPruning.FileStats {
      // `name` may be a dotted nested path (r16) — resolved through the
      // PATH-keyed declared ids; the positional fallback serves only
      // top-level names of id-less legacy metadata, and an unknown
      // nested path is simply statless (keep the file)
      private def id(name: String): Option[Int] =
        ids.get(name).orElse(
          if (name.contains('.')) None
          else Some(schema.fieldIndex(name) + 1))
      def partitionValue(name: String): Option[Any] =
        if (file.partitionValues.contains(name)) Some(file.partitionValues(name)) else None
      def bounds(name: String, dt: DataType): Option[(Any, Any)] =
        for {
          i <- id(name)
          lo <- file.lowerBounds.get(i)
          hi <- file.upperBounds.get(i)
        } yield (boundValue(lo, dt), boundValue(hi, dt))
      def valueCount(name: String): Option[Long] =
        id(name).flatMap(file.valueCounts.get)
      def nullCount(name: String): Option[Long] =
        id(name).flatMap(file.nullCounts.get)
    }


  /** Snapshot read: current (or `snapshotId`) manifests' live data files
    * only — uncommitted/orphaned parquet is invisible (ACID isolation).
    * `scanFilter` (a SQL boolean over the table's columns) prunes whole
    * FILES against the manifest metrics before Spark ever lists them —
    * Iceberg's 100 TB scan story — then re-applies exactly as a normal
    * filter (bounds pruning is conservative, never a substitute).
    * Identity-partition values are restored from the hive `col=val/`
    * layout (`basePath` discovery — partition predicates prune at the
    * scan), then reordered to the declared schema, same rule as the
    * Delta read.
    */
  def read(spark: SparkSession, table: String,
      snapshotId: Option[Long] = None,
      scanFilter: Option[String] = None): DataFrame = {
    val m = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
    val (kept, _) = planFiles(spark, table, snapshotId, scanFilter)
    requireResolvablePartitions(table, m, kept)
    // merge-on-read: only files within some delete file's path bounds
    // pay the position anti-join; everything else stays a plain scan
    val dels = deleteFiles(table, snapshotId)
    val basePath = Paths.get(table, "data").toAbsolutePath.toString
    val schemaCols = m.schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq
    // field-id-stamped iff the schema history shows a rename
    val readSchema = dataReadSchema(spark, m)
    // v3 initial-default: group kept files by the default fields they
    // must FILL (a file that predates the field returns the default,
    // per the spec's column-projection rule) — the shared fillGrouped
    // machinery (≤2^|defaults| metadata-only groups; the dirty read
    // takes the fills so equality-delete matching sees LOGICAL values)
    val base: DataFrame =
      fillGrouped(table, m, initialDefaultFields(m), kept) { (files, fills) =>
        if (files.isEmpty) None
        else {
          val (clean, dirty) = splitByDeletes(files, dels, m.schema, m.fieldIds)
          val cleanDf =
            if (clean.isEmpty) None
            else Some(FencedScan(spark, readSchema) {
              spark.read.schema(readSchema).option("basePath", basePath)
                .parquet(clean.map(_.path): _*).select(schemaCols: _*)
            })
          val dirtyDf =
            if (dirty.isEmpty) None
            else Some(readWithDeletes(spark, table, readSchema, Some(basePath),
              dirty, dels, ids = m.fieldIds, fills = fills)
              .select(schemaCols: _*))
          (cleanDf ++ dirtyDf).reduceOption(_ unionAll _)
        }
      }.getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema))
    scanFilter.map(_.trim).filter(_.nonEmpty)
      .map(f => base.filter(org.apache.spark.sql.functions.expr(f)))
      .getOrElse(base)
  }

  // v3 row lineage (spec "Row Lineage"): reserved field ids of the two
  // materialized metadata columns
  private[graft] val rowIdFieldId = 2147483540
  private[graft] val lastUpdatedSeqFieldId = 2147483539

  private[graft] sealed trait Lineage
  /** Added by an APPENDING snapshot: ids assign from the snapshot's
    * `first-row-id` in manifest order (None = a pre-v3 snapshot — its
    * rows carry null ids, the upgrade rule). */
  private[graft] final case class LinAssigned(first: Option[Long],
      seq: Long) extends Lineage
  /** Added by a REWRITE or DML that materialized `_row_id` /
    * `_last_updated_sequence_number` into the file (proven by the
    * reserved field ids in its manifest metrics) — the columns are
    * authoritative where non-null; NULL values take the spec's
    * inheritance rule (r16): `_row_id` = the file's assignment base +
    * row position (how DML-inserted rows mint), and
    * `_last_updated_sequence_number` = the file's data sequence (how
    * DML-updated rows bump). */
  private[graft] final case class LinMaterialized(first: Option[Long],
      seq: Long) extends Lineage

  private def lineageFields: Seq[StructField] = Seq(
    StructField("_row_id", LongType, nullable = true,
      new MetadataBuilder().putLong("parquet.field.id", rowIdFieldId.toLong).build()),
    StructField("_last_updated_sequence_number", LongType, nullable = true,
      new MetadataBuilder().putLong("parquet.field.id", lastUpdatedSeqFieldId.toLong).build()))

  /** Per-LIVE-file lineage resolution (file NAME → class), replayed
    * from the snapshot HISTORY — current manifests may have merged away
    * the original entry order; each historic list preserves its own.
    * Files whose resolution is impossible (rewrite without materialized
    * columns, or adding snapshot expired) are simply absent — callers
    * decide whether absence refuses.
    */
  private def lineageOf(table: String, m: Meta,
      /** r17 (the streaming view's catch-up case): false maps files
        * that are NO LONGER live too — an append at sequence N whose
        * file a later rewrite replaced still needs its assignment when
        * a lagging stream materializes snapshot N. Append-op
        * assignments don't need live metrics; overwrite-op files
        * resolve only while live (materialized-column proof). */
      restrictToLive: Boolean = true): Map[String, Lineage] = {
    val live = liveFiles(table, None).filter(_.status != 2)
    val livePaths = live.map(_.path).toSet
    val metricsByName = live.map(f => fileNameOf(f.path) -> f).toMap
    val out = scala.collection.mutable.Map.empty[String, Lineage]
    // NAME-keyed map: a name resolved by more than one historical file
    // is ambiguous (third-party layouts may reuse part names across
    // dirs) — drop it so the caller's missing-lineage check refuses
    // LOUDLY instead of a later entry silently overwriting an earlier
    // assignment (matters once restrictToLive=false widens the pool)
    val ambiguous = scala.collection.mutable.Set.empty[String]
    m.snapshots.sortBy(_.get("sequence-number").asLong()).foreach { snap =>
      val sid = snap.get("snapshot-id").asLong()
      val op = Option(snap.get("summary")).map(_.get("operation").asText())
        .getOrElse("append")
      val firstRowId: Option[Long] =
        Option(snap.get("first-row-id")).filterNot(_.isNull).map(_.asLong())
      var next = firstRowId.getOrElse(0L)
      readManifestList(snap.get("manifest-list").asText())
        .filter(_.getInt(3) == 0).foreach { mf =>
        val mPartType = partTypeOfSpec(m, mf.getInt(2))
        readEntries(mf.getString(0), mPartType).foreach { e =>
          val df0 = e.getStruct(4)
          val addedHere = e.getInt(0) == 1 && (e.get(1) match {
            case l: java.lang.Long => l.longValue() == sid
            case _ => false
          })
          if (addedHere) {
            val path = df0.getString(1)
            if (!restrictToLive || livePaths.contains(path)) {
              val name = fileNameOf(path)
              if (out.contains(name)) ambiguous += name
              val dseq = e.get(2) match { case l: java.lang.Long => l.longValue()
                case _ => mf.getLong(4) }
              if (op == "append")
                out(name) = LinAssigned(
                  firstRowId.map(_ => next), dseq)
              else if (metricsByName.get(name)
                  .exists(_.valueCounts.contains(rowIdFieldId)))
                // the assignment base rides along (r16): NULL
                // materialized ids (DML-inserted rows) inherit base +
                // position, per the spec's inheritance rule
                out(name) = LinMaterialized(firstRowId.map(_ => next), dseq)
              // else: unrecoverable — absent
            }
            next += df0.getLong(4) // record_count advances the range
          }
        }
      }
    }
    (out --= ambiguous).toMap
  }

  /** v3 ROW LINEAGE read (spec "Row Lineage"): [[read]] plus the spec's
    * two metadata columns — `_row_id` and
    * `_last_updated_sequence_number`. Per file, either the MATERIALIZED
    * columns are authoritative (files this engine's OPTIMIZE rewrote —
    * presence proven by the reserved field ids in the manifest metrics)
    * or the ids reconstruct from the spec's ASSIGNMENT rule: within an
    * appending snapshot, added files claim ids from the snapshot's
    * `first-row-id` in manifest order, advancing by `record_count`, and
    * a row's id is base + position (DV-surviving rows keep their
    * positions, hence their ids). Files from pre-v3 snapshots return
    * null ids (the upgrade rule; their `_last_updated_sequence_number`
    * stays the file's data sequence — truthful and documented). A live
    * file with NEITHER resolution (rewritten without materialization,
    * or its adding snapshot expired) refuses loudly — never a partial
    * or freshly-minted answer.
    */
  def readWithLineage(spark: SparkSession, table: String): DataFrame =
    readWithLineage(spark, table, None)

  /** `only` (r17, the streaming view's add materialization): restrict
    * the lineage read to specific ADDED files and read them RAW — no
    * delete application, because the stream replays each append AS
    * COMMITTED; any later retraction is a later event the stream
    * handles under its own contract (refuse / ignore_deletes).
    */
  private[graft] def readWithLineage(spark: SparkSession, table: String,
      only: Option[Seq[LiveFile]]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, substring_index}
    import spark.implicits._
    val m = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
    require(m.formatVersion == 3,
      s"$table is format-version ${m.formatVersion}; row lineage is a v3 feature")
    // the lineage read builds its own scan (no default filling) — an
    // initial-default table here would silently null the defaults
    require(initialDefaultFields(m).isEmpty,
      s"$table carries initial-default fields; the row-lineage read does " +
        "not fill them — use read() for values, or drop the defaults")
    // `only` files may already have been rewritten out of the live set
    // (a lagging stream materializing an old append) — resolve their
    // assignments from history regardless of liveness
    val lin = lineageOf(table, m, restrictToLive = only.isEmpty)
    val kept = only.getOrElse(liveFiles(table, None).filter(_.status != 2))
    // the base join below keys by FILE NAME — same-named files in
    // different partition dirs would cross-assign their id ranges
    // (this engine mints UUID names; a third-party layout might not)
    requireUniqueNames(table, kept.map(_.path), "lineage-read data files")
    val missing = kept.map(_.path).filterNot(p => lin.contains(fileNameOf(p)))
    require(missing.isEmpty,
      s"$table: live file(s) ${missing.take(3).mkString(", ")} have " +
        "unrecoverable row-id lineage (added by a rewrite that did not " +
        "materialize _row_id, or by a snapshot expired out of the " +
        "history) — refusing a partial lineage read; rewrites through " +
        "this engine's OPTIMIZE materialize lineage going forward")
    val baseDf = broadcast(lin.toSeq.map {
      case (n, LinAssigned(first, seq)) => (n, first, Option(seq))
      // materialized files fall back to the inheritance rule for NULL
      // values (DML inserts mint base+pos; DML updates bump to the
      // file's data sequence) — the same coalesce serves both classes
      case (n, LinMaterialized(first, seq)) => (n, first, Option(seq))
    }.toDF(posNameCol, "__graft_first_row_id", "__graft_dseq"))
    val dels = if (only.isDefined) Seq.empty else deleteFiles(table, None)
    val basePath = Paths.get(table, "data").toAbsolutePath.toString
    val (clean, dirty) =
      if (only.isDefined) (kept, Seq.empty[LiveFile])
      else splitByDeletes(kept, dels, m.schema, m.fieldIds)
    // materialized columns ride the read schema (reserved parquet field
    // ids stamped); files without them read null and take the base path
    val readSchema = StructType(
      dataReadSchema(spark, m).fields ++ lineageFields)
    val lineageIds = m.fieldIds +
      ("_row_id" -> rowIdFieldId) +
      ("_last_updated_sequence_number" -> lastUpdatedSeqFieldId)
    val cleanDf =
      if (clean.isEmpty) None
      else Some(FencedScan(spark, readSchema) {
        spark.read.schema(readSchema).option("basePath", basePath)
          .parquet(clean.map(_.path): _*)
          .withColumn(posNameCol,
            substring_index(col("_metadata.file_path"), "/", -1))
          .withColumn(posPosCol, col("_metadata.row_index"))
      })
    val dirtyDf =
      if (dirty.isEmpty) None
      else Some(readWithDeletes(spark, table, readSchema, Some(basePath),
        dirty, dels, withMeta = true, ids = lineageIds)
        .withColumn(posNameCol, substring_index(col(posFileCol), "/", -1)))
    val cols = (m.schema.fieldNames.toIndexedSeq ++
      Seq("_row_id", "_last_updated_sequence_number",
        posNameCol, posPosCol)).map(col)
    val rows = (cleanDf ++ dirtyDf).map(_.select(cols: _*))
      .reduceOption(_ unionAll _)
      .getOrElse(sys.error(s"$table has no live files"))
    rows.join(baseDf, posNameCol)
      .withColumn("_row_id",
        coalesce(col("_row_id"), col("__graft_first_row_id") + col(posPosCol)))
      .withColumn("_last_updated_sequence_number",
        coalesce(col("_last_updated_sequence_number"), col("__graft_dseq")))
      .select(m.schema.fieldNames.map(col).toIndexedSeq :+
        col("_row_id") :+ col("_last_updated_sequence_number"): _*)
  }

  /** Changelog batch read — the manifest-diff equivalent of Delta's CDF
    * (public Iceberg changelog-scan semantics; [[Cdf]] row shape): per
    * retained snapshot with sequence number in `fromSeq..toSeq`
    * (default: current), an `append` emits its added files' rows as
    * `insert`; an `overwrite` (DML) emits the files it REMOVED as
    * `delete` rows and the files it ADDED as `insert` rows —
    * file-granularity net changes, so rows carried unchanged through a
    * rewrite appear as a delete+insert pair of equal images, which any
    * retraction consumer cancels; `replace` (OPTIMIZE/ZORDER) emits
    * nothing. Output: table columns + `_change_type` +
    * `_commit_version` (the sequence number) + `_commit_timestamp`.
    * Snapshots expired out of the range fail loudly — their manifests
    * (and the overwrite parents the diff needs) are gone.
    */
  def readChanges(spark: SparkSession, table: String, fromSeq: Long,
      toSeq: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val m = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
    val hi = toSeq.getOrElse(m.lastSeq)
    require(fromSeq >= 1 && fromSeq <= hi,
      s"readChanges: bad sequence range $fromSeq..$hi")
    require(hi <= m.lastSeq, s"$table has no sequence $hi yet")
    val snaps = m.snapshots
      .map(s => (s.get("sequence-number").asLong(), s))
      .filter { case (seq, _) => seq >= fromSeq && seq <= hi }
      .sortBy(_._1)
    require(snaps.map(_._1) == (fromSeq to hi),
      s"$table: sequences $fromSeq..$hi include expired snapshots; their " +
        "change rows cannot be reconstructed")
    // field-id-stamped iff the schema history shows a rename (the
    // changelog replays OLD files, where the pre-rename name lives)
    val schema = dataReadSchema(spark, m)
    val schemaCols = schema.fieldNames.map(col).toIndexedSeq
    val basePath = Paths.get(table, "data").toAbsolutePath.toString
    // v3 initial-defaults (r17, lifting the r16 refusal): the changelog
    // replays OLD files, and a replayed row's LOGICAL value includes
    // the fill its file needs — so every replay path below groups its
    // files by fill class through the shared [[fillGrouped]] machinery
    // (≤2^|defaults| metadata-only groups), with VALUE-matching reads
    // (equality deletes) taking the fills pre-match. Restricting a read
    // to a fill group is sound because every replay primitive here is
    // per-file row reads + per-row matching.
    val idefs = initialDefaultFields(m)
    def fillClassOf(f: LiveFile): Seq[String] =
      fillFieldsOf(table, m, idefs, m.fieldIds, f).map(_._1.name)
    def filled(files: Seq[LiveFile])(
        read: (Seq[LiveFile], Seq[(StructField, Any)]) => Option[DataFrame])
        : Option[DataFrame] =
      fillGrouped(table, m, idefs, files)(read)
    def readFiles0(paths: Seq[String], changeType: String): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(FencedScan(spark, schema) {
        spark.read.schema(schema).option("basePath", basePath)
          .parquet(paths: _*).select(schemaCols: _*)
      }.withColumn(Cdf.changeTypeCol, lit(changeType)))
    def readFiles(files: Seq[LiveFile], changeType: String): Option[DataFrame] =
      filled(files)((g, _) => readFiles0(g.map(_.path), changeType))
    val frames = snaps.flatMap { case (seq, s) =>
      val sid = s.get("snapshot-id").asLong()
      val ts = s.get("timestamp-ms").asLong()
      val op = Option(s.get("summary")).map(_.get("operation").asText())
        .getOrElse("append")
      val base: Option[DataFrame] = op match {
        case "replace" => None // layout rewrite: no logical change
        case "append" =>
          val added = liveFiles(table, Some(sid))
            .filter(f => f.status == 1 && f.entryRow.get(1) == sid)
          requireResolvablePartitions(table, m, added)
          readFiles(added, "insert")
        case "overwrite" | "delete" =>
          val live = liveFiles(table, Some(sid)).filter(_.status != 2)
          requireResolvablePartitions(table, m, live)
          val added = live.filter(f => f.status == 1 && f.entryRow.get(1) == sid)
          val parentId = Option(s.get("parent-snapshot-id")).map(_.asLong())
            .getOrElse(sys.error(
              s"$table: $op snapshot $sid has no parent; cannot diff"))
          val parentLive = liveFiles(table, Some(parentId)).filter(_.status != 2)
          requireResolvablePartitions(table, m, parentLive)
          val removed = parentLive.map(_.path).toSet -- live.map(_.path)
          // CoW-removed files replay with the PARENT's deletes applied:
          // rows merge-on-read already retracted must not retract twice
          val parentDels = deleteFiles(table, Some(parentId))
          val rm = parentLive.filter(f => removed.contains(f.path)).sortBy(_.path)
          val fileDels =
            if (rm.isEmpty) None
            else if (parentDels.isEmpty) readFiles(rm, "delete")
            else filled(rm) { (g, fills) =>
              Some(readWithDeletes(spark, table, schema, Some(basePath),
                g, parentDels, ids = m.fieldIds, fills = fills))
            }.map(_.withColumn(Cdf.changeTypeCol, lit("delete")))
          // merge-on-read: delete files ADDED by this snapshot retract
          // exact rows — per-row changelog, not file-diff. Position
          // deletes name their rows; equality deletes match the parent's
          // LIVE rows by key
          val delsNew = deleteFiles(table, Some(sid))
            .filter(d => d.addedSnapshotId == sid && d.entryRow.getInt(0) == 1)
          val (dvNew, posNew) = delsNew.filter(_.content == 1).partition(_.isDv)
          val posDels =
            if (posNew.isEmpty) None
            else {
              val (_, dirtyP) = splitByDeletes(parentLive, posNew, schema,
                m.fieldIds)
              filled(dirtyP) { (g, _) => // position-matched: no value keys
                positionDeleteRows(spark, table, schema, basePath,
                  g.map(_.path), posNew)
              }.map(_.withColumn(Cdf.changeTypeCol, lit("delete")))
            }
          // DV diffs read the REFERENCED parent file's rows: group the
          // DVs by their referenced file's fill class (a DV whose file
          // was rewritten is inert — empty class, reads nothing anyway)
          val parentByName = parentLive.map(f => fileNameOf(f.path) -> f).toMap
          val dvDels = fillGroupedBy(idefs, dvNew)(d =>
            d.referencedDataFile.map(fileNameOf).flatMap(parentByName.get)
              .map(fillClassOf).getOrElse(Seq.empty)) { (g, _) =>
            dvDeleteRows(spark, table, schema, basePath,
              parentLive, parentDels, g)
          }.map(_.withColumn(Cdf.changeTypeCol, lit("delete")))
          // equality retracts match the parent's live rows BY VALUE:
          // restricting parentLive to one fill group keeps the per-file
          // read + per-row key-match semantics, and the fills pass
          // through so the match sees LOGICAL values (r17 review fix —
          // a delete on k=7 must retract pre-field rows whose logical
          // k IS the default 7)
          val eqNew = delsNew.filter(_.content == 2)
          val eqDels = (
            if (eqNew.isEmpty) None
            else filled(parentLive) { (g, fills) =>
              equalityDeleteRows(spark, table, schema, basePath,
                g, parentDels, eqNew, m.fieldIds, fills)
                .reduceOption(_ unionAll _)
            }).map(_.withColumn(Cdf.changeTypeCol, lit("delete")))
          val ins = readFiles(added, "insert")
          (fileDels ++ posDels ++ dvDels ++ eqDels ++ ins).reduceOption(_ unionAll _)
        case other => sys.error(
          s"$table: snapshot $sid has unknown operation '$other'; refusing " +
            "to guess its changelog semantics")
      }
      base.map(_.withColumn(Cdf.commitVersionCol, lit(seq))
        .withColumn(Cdf.commitTimestampCol, lit(new java.sql.Timestamp(ts))))
    }
    frames.reduceOption(_ unionAll _).getOrElse {
      val empty = StructType(Cdf.changeSchema(schema).fields ++ Seq(
        StructField(Cdf.commitVersionCol, LongType),
        StructField(Cdf.commitTimestampCol, TimestampType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], empty)
    }
  }

  // ── maintenance ──────────────────────────────────────────────────────

  /** Compact small data files per partition (Iceberg's
    * `rewrite_data_files`, surfaced as the OPTIMIZE verb): partitions
    * with ≥2 live files under `smallBytes` get their small files
    * coalesced toward `targetBytes` and committed as ONE `replace`
    * snapshot — added entries for the compacted files, EXISTING entries
    * (original sequence numbers) for every untouched live file, and a
    * fresh two-manifest list. Readers of any prior snapshot still see
    * the old files (time travel keeps them until [[expireSnapshots]]).
    * Returns the committed metadata version, or None when there was
    * nothing to compact or a concurrent replace removed one of the
    * victims first (the conflict rule — never duplicate rows).
    *
    * `zorderBy` re-clusters EVERY live file along the Morton curve of
    * the named data columns ([[graft.operators.ZOrder]]) instead of
    * size-compacting — afterwards the manifest bounds are narrow in
    * all the named dimensions, so [[planFiles]] prunes multi-column
    * filters (Iceberg tables pair this with `rewrite_data_files`'
    * sort strategy; Delta calls it OPTIMIZE ZORDER BY).
    */
  /** Test seam: runs after a replace has planned its victims and written
    * replacement files, before the commit loop — lets specs land a
    * concurrent append in the planning→commit window deterministically.
    */
  private[graft] var onReplaceCommit: () => Unit = () => ()

  def rewriteDataFiles(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      smallBytes: Option[Long] = None,
      zorderBy: Seq[String] = Seq.empty): Option[Int] = {
    val m = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table"))
    zorderBy.foreach { c =>
      require(m.schema.fieldNames.contains(c), s"zorder: no column $c")
      require(!m.partitionColumns.contains(c),
        s"zorder: $c is a partition column (already file-disjoint)")
    }
    val threshold = smallBytes.getOrElse(targetBytes / 2)
    val live = liveFiles(table, None).filter(_.status != 2)
    val byPart = live.groupBy(_.partitionValues)
    // merge-on-read deletes: every live file a delete could bind to is a
    // victim too — rewriting them (deletes applied) is what lets the
    // commit PURGE the delete manifests (iceberg's
    // rewrite_position_delete_files folded into rewrite_data_files)
    val dels = deleteFiles(table, None)
    val dirtySet = splitByDeletes(live, dels, m.schema, m.fieldIds)._2.map(_.path).toSet
    val victims0 = byPart.values.flatMap { files =>
      // ZORDER re-clusters EVERY live file (layout, not just size);
      // plain compaction only coalesces partitions with ≥2 small files
      if (zorderBy.nonEmpty) files
      else {
        val small = files.filter(_.size < threshold)
        if (small.size >= 2) small else Seq.empty
      }
    }.toSeq
    // PARTITION-RENAME repair: files stranded under pre-rename hive
    // segment names refuse reads; re-landing them is this verb's job
    val stale = stalePartitionNamed(m, live)
    val victims = (victims0 ++ live.filter(f => dirtySet.contains(f.path)) ++
      stale).groupBy(_.path).map(_._2.head).toSeq
    if (victims.isEmpty && dels.isEmpty) return None
    // name-join soundness across ALL groups: every victim enters a read
    // that anti-joins the full delete set, so a name collision anywhere
    // among them could mis-apply a delete row — fail loudly
    if (dels.nonEmpty) requireUniqueNames(table, victims.map(_.path),
      "rewrite victims")
    // RENAMED tables (r14 self-review): read data columns by FIELD ID —
    // a by-name read would silently rewrite the renamed column as nulls
    // for pre-rename files. Partition values come from the MANIFESTS
    // (pv below), keyed by the SPEC field names (frozen at spec
    // creation, i.e. pre-rename); output hive dirs use the CURRENT
    // names — which is exactly what repairs a renamed table for the
    // hive-recovering read paths.
    val readSchemaAll = dataReadSchema(spark, m)
    val dataSchema = StructType(
      readSchemaAll.filterNot(f => m.partitionColumns.contains(f.name)))
    val specNameOf: Map[String, String] = {
      val specs = m.node.get("partition-specs")
      val spec0 = (0 until specs.size()).map(specs.get)
        .find(_.get("spec-id").asInt() == 0)
      val srcName = m.partitionColumns.map(c =>
        m.fieldIds.getOrElse(c, m.schema.fieldIndex(c) + 1) -> c).toMap // declared ids
      spec0.map { s =>
        val f = s.get("fields")
        (0 until f.size()).flatMap { i =>
          val sid = f.get(i).get("source-id").asInt()
          srcName.get(sid).map(_ -> f.get(i).get("name").asText())
        }.toMap
      }.getOrElse(Map.empty)
    }
    // v3 ROW LINEAGE preservation (spec: rewrites must carry row ids):
    // when every victim's lineage is resolvable, the rewritten files
    // MATERIALIZE _row_id/_last_updated_sequence_number (reserved
    // parquet field ids; the manifest metrics then prove presence for
    // future lineage reads). Unresolvable victims (pre-r15 rewrites,
    // expired history) fall back to the legacy rewrite — the lineage
    // read refuses those files either way, so nothing regresses.
    // initial-default victims read with per-file fills (r16) — the
    // default materializes into the rewritten bytes, which is the
    // row's value; lineage never composes with defaults (the lineage
    // read refuses such tables)
    val rwDefaults = initialDefaultFields(m)
    val lineage: Option[Map[String, Lineage]] =
      // !idStampable (r17): see the DML cycle — id-less lineage columns
      // are invisible to a spec-conformant reader, so don't materialize
      if (m.formatVersion != 3 || rwDefaults.nonEmpty ||
          !idStampable(m.schema)) None
      else {
        val lin = lineageOf(table, m)
        val names = victims.map(f => fileNameOf(f.path))
        // name-keyed joins must never mis-assign: duplicate victim
        // names (third-party layout) fall back to the legacy rewrite
        if (names.distinct.size == names.size &&
            victims.forall(f => lin.contains(fileNameOf(f.path)))) Some(lin)
        else None
      }
    val lineageIds = m.fieldIds +
      ("_row_id" -> rowIdFieldId) +
      ("_last_updated_sequence_number" -> lastUpdatedSeqFieldId)
    val scratchFiles = scala.collection.mutable.ArrayBuffer.empty[DataFileInfo]
    val scratchDirs = scala.collection.mutable.ArrayBuffer.empty[Path]
    victims.groupBy(_.partitionValues).foreach { case (pv, files) =>
      val scratch = Paths.get(table, s".graft-iceberg-${UUID.randomUUID()}")
      scratchDirs += scratch
      val n = math.max(1, math.ceil(files.map(_.size).sum.toDouble / targetBytes).toInt)
      // rewrites must read LIVE rows — applying the deletes here is
      // exactly what makes the purge below sound. The delete-aware read
      // uses the FULL table schema (equality columns may be partition
      // columns, and delete-column ids are the table's DECLARED field
      // ids), then projects back down to the data columns
      val in = lineage match {
        case None =>
          import org.apache.spark.sql.functions.{col, lit}
          def readGroup(group: Seq[LiveFile]): DataFrame =
            if (dels.isEmpty)
              FencedScan(spark, dataSchema)(
                spark.read.schema(dataSchema).parquet(group.map(_.path): _*))
            else readWithDeletes(spark, table, readSchemaAll,
              Some(Paths.get(table, "data").toAbsolutePath.toString), group,
              dels, ids = m.fieldIds)
              .select(dataSchema.fieldNames.map(col).toIndexedSeq: _*)
          if (rwDefaults.isEmpty) readGroup(files.toSeq)
          else files.groupBy(f =>
              fillFieldsOf(table, m, rwDefaults, m.fieldIds, f).map(_._1.name))
            .toSeq.sortBy(_._1.mkString(","))
            .map { case (fillNames, group) =>
              rwDefaults.filter(d => fillNames.contains(d._1.name))
                .foldLeft(readGroup(group.toSeq)) { case (df, (sf, v)) =>
                  df.withColumn(sf.name, lit(v).cast(sf.dataType))
                }.select(dataSchema.fieldNames.map(col).toIndexedSeq: _*)
            }.reduce(_ unionAll _)
        case Some(lin) =>
          // lineage-preserving rewrite: each row carries its id forward
          // (materialized column if the victim already has one, else the
          // assignment base + the row's position in ITS OWN file)
          import org.apache.spark.sql.functions.{broadcast, coalesce, col, substring_index}
          import spark.implicits._
          val baseDf = broadcast(files.map { f =>
            lin(fileNameOf(f.path)) match {
              case LinAssigned(first, seq) => (fileNameOf(f.path), first, Option(seq))
              // inheritance fallback: a DML file's NULL-id insert rows
              // materialize their inherited ids through this rewrite
              case LinMaterialized(first, seq) =>
                (fileNameOf(f.path), first, Option(seq))
            }
          }.toDF(posNameCol, "__graft_first_row_id", "__graft_dseq"))
          val raw =
            if (dels.isEmpty) {
              val linSchema = StructType(dataSchema.fields ++ lineageFields)
              FencedScan(spark, linSchema) {
                spark.read.schema(linSchema)
                  .parquet(files.map(_.path): _*)
                  .withColumn(posNameCol,
                    substring_index(col("_metadata.file_path"), "/", -1))
                  .withColumn(posPosCol, col("_metadata.row_index"))
              }
            } else readWithDeletes(spark, table,
              StructType(readSchemaAll.fields ++ lineageFields),
              Some(Paths.get(table, "data").toAbsolutePath.toString),
              files.toSeq, dels, withMeta = true, ids = lineageIds)
              .withColumn(posNameCol, substring_index(col(posFileCol), "/", -1))
          raw.join(baseDf, posNameCol)
            .withColumn("_row_id", coalesce(col("_row_id"),
              col("__graft_first_row_id") + col(posPosCol)))
            .withColumn("_last_updated_sequence_number",
              coalesce(col("_last_updated_sequence_number"), col("__graft_dseq")))
            .select((dataSchema.fieldNames.toIndexedSeq ++
              Seq("_row_id", "_last_updated_sequence_number")).map(col): _*)
      }
      val out =
        if (zorderBy.isEmpty) in.coalesce(n)
        else graft.operators.ZOrder.cluster(in, zorderBy, n)
      withFieldIds(out,
        if (lineage.isEmpty) fieldIdsFor(Some(m), m.schema)
        else fieldIdsFor(Some(m), m.schema) ++ Map(
          "_row_id" -> rowIdFieldId,
          "_last_updated_sequence_number" -> lastUpdatedSeqFieldId))
        .write.mode("overwrite").parquet(scratch.toString)
      // hive partition dir for this group (identity transform)
      val partDir = m.partitionColumns.map { c =>
        pv.getOrElse(specNameOf.getOrElse(c, c), null) match {
          // null partition value → Spark's sentinel dir, round-tripping
          // through partitionValuesOf back to a real null
          case null => s"$c=$hiveNullDir"
          // %XX escapes only ('+' means '+'; space is %20), matching the
          // decoder in partitionValuesOf and Spark's own hive-dir escaping
          case v =>
            s"$c=${java.net.URLEncoder.encode(String.valueOf(v), "UTF-8").replace("+", "%20")}"
        }
      }.foldLeft(Paths.get(table, "data"))(_.resolve(_))
      Files.createDirectories(partDir)
      walkDir(scratch).filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).foreach { p =>
        val dest = partDir.resolve(p.getFileName.toString)
        try Files.createLink(dest, p)
        catch { case _: UnsupportedOperationException =>
          Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE) }
        // metrics key by DECLARED field ids (partition columns absent
        // from the footer are simply not matched); lineage-preserving
        // rewrites harvest the reserved-id columns too — that presence
        // is exactly what future lineage reads verify
        scratchFiles += statFile(spark, table, dest,
          if (lineage.isEmpty) m.schema
          else StructType(m.schema.fields ++ lineageFields),
          if (lineage.isEmpty) m.fieldIds else lineageIds)
      }
    }
    scratchDirs.foreach(d => walkDir(d).reverse.foreach(Files.deleteIfExists(_)))
    val victimPaths = victims.map(_.path).toSet
    onReplaceCommit()
    // survivors are derived INSIDE the commit loop from each attempt's
    // fresh snapshot (not here) so a concurrent append is never lost
    val committed = commitSnapshot(spark, table, m.schema, m.partitionColumns,
      scratchFiles.toSeq, txn = None, operation = "replace",
      fillAware = true,
      replaced = victimPaths,
      // purge the delete manifests: every live file they could bind to
      // was just rewritten with the deletes applied — guarded against a
      // concurrent MoR DML landing NEW deletes (baseDeletes growth
      // check). UNCONDITIONAL (empty set when the planning snapshot had
      // none): a first delete file landing on a victim in the
      // plan→commit window must abort too, or the compaction rewrites
      // the victim from raw bytes and resurrects the deleted rows
      baseDeletes = Some(dels.map(_.path).toSet),
      dropDeletes = dels.nonEmpty)
    if (committed.isEmpty)
      scratchFiles.foreach(a => Files.deleteIfExists(Paths.get(a.path)))
    committed
  }

  /** `ALTER TABLE … ADD COLUMNS`: append nullable columns to the table
    * schema — a new metadata version whose `schemas` history grows one
    * entry (`current-schema-id` advances; existing field ids never move).
    * Lands as an empty fast-append snapshot (no data files; streaming
    * tails link nothing). Returns the committed metadata version.
    */
  /** Rebuild `schema` with `leafOp` applied to the struct HOLDING the
    * dotted path's last segment — the iceberg twin of the delta
    * navigation (r16). STRUCT nesting only: a rename below a list/map
    * node could never re-resolve (those files carry no parquet field
    * ids — [[idStampable]]), so evolution stops at struct depth.
    */
  private def rewriteStructPath(table: String, schema: StructType,
      path: Seq[String])(leafOp: (StructType, String) => StructType)
      : StructType = {
    def walk(st: StructType, segs: Seq[String]): StructType = segs match {
      case Seq(leaf) => leafOp(st, leaf)
      case head +: rest =>
        val i = st.fieldIndex(head)
        st.fields(i).dataType match {
          case inner: StructType =>
            StructType(st.fields.updated(i,
              st.fields(i).copy(dataType = walk(inner, rest))))
          case other => throw new IllegalArgumentException(
            s"$table: '$head' is ${other.simpleString}, not a struct — " +
              "iceberg fields evolve through struct nesting only (list/map " +
              "files carry no field ids to re-resolve by)")
        }
    }
    try walk(schema, path)
    catch { case e: IllegalArgumentException if e.getMessage != null &&
        e.getMessage.contains("does not exist") =>
      throw new IllegalArgumentException(
        s"$table: no column ${path.mkString(".")}") }
  }

  def addColumns(spark: SparkSession, table: String,
      cols: Seq[(String, DataType)]): Option[Int] = {
    require(cols.nonEmpty, "ADD COLUMNS: no columns")
    require(cols.map(_._1).distinct.size == cols.size,
      "ADD COLUMNS: duplicate column name")
    val (nested, flat) = cols.partition(_._1.contains("."))
    var round = 0
    while (round < 5) {
      round += 1
      val m = current(table).getOrElse(
        sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
      flat.foreach { case (n, _) =>
        require(!m.schema.fieldNames.contains(n),
          s"ADD COLUMNS: column $n already exists in $table") }
      val widened = StructType(m.schema.fields ++
        flat.map { case (n, dt) => StructField(n, dt, nullable = true) })
      if (nested.isEmpty)
        return commitSnapshot(spark, table, widened, m.partitionColumns,
          Seq.empty, txn = None, operation = "append", replaced = Set.empty,
          mergeSchema = true)
      // NESTED adds (`s.z` — r16): the field appends at the END of its
      // struct with a FRESH path id minted past last-column-id
      // ([[fieldIdsFor]]); old files simply lack the leaf and read null
      // at depth. Commits via schemaReplace (append-only SchemaEvolution
      // cannot express a grown nested type), schemaBase-raced.
      val evolved = nested.foldLeft(widened) { case (sch, (path, dt)) =>
        rewriteStructPath(table, sch, path.split('.').toSeq) { (st, leaf) =>
          require(!st.fieldNames.contains(leaf),
            s"ADD COLUMNS: column $path already exists in $table")
          StructType(st.fields :+ StructField(leaf, dt, nullable = true))
        }
      }
      val committed = commitSnapshot(spark, table, evolved,
        m.partitionColumns, Seq.empty, txn = None, operation = "append",
        replaced = Set.empty, schemaReplace = true,
        schemaBase = Some(m.schema.json),
        explicitIds = Some(fieldIdsFor(Some(m), evolved)))
      if (committed.isDefined) return committed
    }
    sys.error(s"$table: ADD COLUMNS lost 5 concurrent-evolution races; giving up")
  }

  /** `ALTER TABLE … RENAME COLUMN from TO to`: a metadata-only commit
    * appending a schema-history entry that carries the SAME field id
    * under the new name (the spec's column identity is the id — data
    * files, stats, and partition-spec source-ids all keep resolving).
    * Reads of pre-rename files switch to field-id resolution
    * automatically ([[renamedFieldIds]]/[[dataReadSchema]] — the same
    * machinery that serves third-party renames). Renaming a PARTITION
    * column leaves live files' hive paths under the old segment name;
    * reads refuse until OPTIMIZE re-lands them
    * ([[requireResolvablePartitions]]) — pinned, not silent.
    */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String): Option[Int] = {
    require(from != to, s"RENAME COLUMN: '$from' to itself")
    require(!to.contains("."),
      s"RENAME COLUMN: new name '$to' must be a plain leaf name " +
        "(the field stays at its position; renames never move fields)")
    // `from` may be a dotted NESTED path (`s.a` — r16): the leaf
    // renames in place, its id (and its descendants' ids) unchanged
    val path = from.split('.').toSeq
    val toPath = (path.dropRight(1) :+ to).mkString(".")
    var round = 0
    while (round < 5) {
      round += 1
      val m = current(table).getOrElse(
        sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
      // pre-rename files must become id-resolvable, but a list/map
      // schema's files carry no (complete) parquet field ids — the
      // rename would leave the table unreadable; refuse it instead
      require(idStampable(m.schema),
        s"RENAME COLUMN: $table has list/map columns whose data files " +
          "carry no complete parquet field ids; a rename would make " +
          "pre-rename files unresolvable — rewrite under the new layout " +
          "instead")
      val evolved = rewriteStructPath(table, m.schema, path) { (st, leaf) =>
        require(st.fieldNames.contains(leaf),
          s"RENAME COLUMN: no column $from in $table")
        require(!st.fieldNames.contains(to),
          s"RENAME COLUMN: column $to already exists beside $from in $table")
        StructType(st.fields.map(f =>
          if (f.name == leaf) f.copy(name = to) else f))
      }
      // PATH-keyed: the renamed field's descendants move with it
      // (`s.x` → `s.qty` moves `s.x.*` → `s.qty.*`), every id unchanged
      // — existing data keeps binding
      val ids = m.fieldIdPaths
      val newIds = ids.map {
        case (p, id) if p == from => toPath -> id
        case (p, id) if p.startsWith(from + ".") =>
          (toPath + p.stripPrefix(from)) -> id
        case kv => kv
      }
      val parts =
        if (path.size > 1) m.partitionColumns
        else m.partitionColumns.map(pc => if (pc == from) to else pc)
      val committed = commitSnapshot(spark, table, evolved, parts, Seq.empty,
        txn = None, operation = "append", replaced = Set.empty,
        schemaReplace = true, schemaBase = Some(m.schema.json),
        explicitIds = Some(newIds))
      if (committed.isDefined) return committed
    }
    sys.error(s"$table: RENAME COLUMN lost 5 concurrent-evolution races; giving up")
  }

  /** `ALTER TABLE … DROP COLUMN[S]`: a metadata-only commit whose new
    * schema-history entry omits the field while every SURVIVOR keeps
    * its id (a gap, not a re-numbering — `last-column-id` stays at its
    * high-water mark so the dead id is never re-minted; a later same-
    * named ADD COLUMNS gets a FRESH id and [[renamedFieldIds]] forces
    * field-id reads, so old files' dead values stay dead). Physical
    * data remains in existing files — readers project current fields
    * only; purging bytes is a rewrite (OPTIMIZE), deliberately not
    * bundled. Partition columns refuse — dropping one changes the
    * table's layout contract, a rewrite.
    */
  def dropColumns(spark: SparkSession, table: String,
      cols: Seq[String]): Option[Int] = {
    require(cols.nonEmpty, "DROP COLUMN: no columns")
    require(cols.distinct.size == cols.size, "DROP COLUMN: duplicate column name")
    var round = 0
    while (round < 5) {
      round += 1
      val m = current(table).getOrElse(
        sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
      cols.foreach { c =>
        require(!m.partitionColumns.contains(c),
          s"DROP COLUMN: $c is a partition column of $table — " +
            "repartitioning requires a rewrite, not a schema commit")
      }
      // each name may be a dotted NESTED path (`s.a` — r16): the field
      // leaves its struct, the struct (and every other id) stays
      val evolved = cols.foldLeft(m.schema) { (sch, c) =>
        rewriteStructPath(table, sch, c.split('.').toSeq) { (st, leaf) =>
          require(st.fieldNames.contains(leaf),
            s"DROP COLUMN: no column $c in $table")
          val kept = StructType(st.fields.filterNot(_.name == leaf))
          if (c.contains(".")) require(kept.fields.nonEmpty,
            s"DROP COLUMN: $c would empty its struct — drop the struct itself")
          kept
        }
      }
      require(evolved.fields.nonEmpty,
        s"DROP COLUMN: cannot drop every column of $table")
      val committed = commitSnapshot(spark, table, evolved, m.partitionColumns,
        Seq.empty, txn = None, operation = "append", replaced = Set.empty,
        schemaReplace = true, schemaBase = Some(m.schema.json),
        // a dropped struct retires its descendants' ids with it
        // (last-column-id keeps them never-reused)
        explicitIds = Some(m.fieldIdPaths.filter { case (p, _) =>
          !cols.exists(c => p == c || p.startsWith(c + ".")) }))
      if (committed.isDefined) return committed
    }
    sys.error(s"$table: DROP COLUMN lost 5 concurrent-evolution races; giving up")
  }

  // ── merge-on-read DML (format v2 row deltas) ─────────────────────────

  /** Which write path a verb takes: the PUBLIC Iceberg table properties
    * `write.{delete,update,merge}.mode`; copy-on-write (the full-file
    * rewrite) unless the table opts into merge-on-read.
    */
  private def morMode(m: Meta, verb: String): Boolean =
    m.properties.getOrElse(s"write.$verb.mode", "copy-on-write") match {
      case "merge-on-read" => true
      case "copy-on-write" => false
      case other => sys.error(s"write.$verb.mode=$other is not a write " +
        "mode (merge-on-read | copy-on-write)")
    }

  /** The merge-on-read plan → row-delta → commit cycle. Candidates are
    * stats-pruned and read WITH prior deletes applied, each row carrying
    * its (file, position); `delta` turns them into positions to retract
    * plus rows to append. The positions land as sorted position-delete
    * files and the appends as ordinary data files, in ONE snapshot that
    * rewrites nothing — cost scales with the rows changed, never the
    * files they live in (the 100 TB DML story: a 1k-row DELETE against a
    * 10⁵-file table writes one tiny delete file and touches no data
    * file). Conflict rules, judged inside the commit against the fresh
    * snapshot: every file the delete rows reference must still be live
    * (a concurrent replace carried those rows to new positions), a
    * concurrently-added file that may match re-plans (ConcurrentAppend),
    * and a concurrently-added DELETE file re-plans (its retractions were
    * invisible to this cycle's reads).
    */
  private def morRun(spark: SparkSession, table: String,
      scanFilter: Option[String], conflictPred: Option[String],
      commitWhenUntouched: Boolean = false,
      /** v3 row-lineage through MoR postimages (r16): the candidate
        * frame carries materialized `_row_id`/
        * `_last_updated_sequence_number` (inheritance-resolved), so the
        * caller's postimage projection keeps ids and bumps sequences;
        * the appended files stamp the reserved parquet field ids and
        * their metrics prove presence. Armed per round only when every
        * candidate's lineage is resolvable — otherwise legacy. */
      withLineage: Boolean = false)
      (delta: (DataFrame, StructType) => (DataFrame, Option[DataFrame]))
      : Option[Int] = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, substring_index}
    import spark.implicits._
    val basePath = Paths.get(table, "data").toAbsolutePath.toString
    var round = 0
    while (round < 5) {
      round += 1
      val m = current(table).getOrElse(
        sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
      // v3 initial-defaults: candidate reads FILL per file below (r16),
      // so postimages carry the correct values
      val defaults = initialDefaultFields(m)
      // ONE manifest walk per round: live set, delete files, and the
      // stats-pruned candidates all derive from it (the commit-time
      // guards re-judge against a fresh snapshot anyway)
      val live = liveFiles(table, None).filter(_.status != 2)
      val baseLive = live.map(_.path).toSet
      val dels = deleteFiles(table, None)
      val cands = scanFilter.map(_.trim).filter(_.nonEmpty) match {
        case None => live
        case Some(f) =>
          val conj = StatsPruning.conjunctsOf(spark, f)
          live.filter(file => conj.forall(c =>
            StatsPruning.mayMatch(fileStats(file, m.schema, m.fieldIdPaths), c, m.schema)))
      }
      if (cands.isEmpty && !commitWhenUntouched) return None
      val lin: Option[Map[String, (Option[Long], Long)]] =
        // !idStampable (r17): list/map schemas write no parquet field
        // ids, so materialized lineage columns would miss the reserved
        // ids an id-resolving reader needs — legacy path instead
        if (!withLineage || m.formatVersion != 3 || defaults.nonEmpty ||
            !idStampable(m.schema)) None
        else {
          val l = lineageOf(table, m)
          // same fallback rules as the CoW cycle: duplicate names or an
          // unresolvable candidate → legacy (the name-keyed base join
          // must never mis-assign)
          val names = cands.map(f => fileNameOf(f.path))
          if (names.distinct.size == names.size &&
              cands.forall(f => l.contains(fileNameOf(f.path))))
            Some(l.view.mapValues {
              case LinAssigned(first, seq) => (first, seq)
              case LinMaterialized(first, seq) => (first, seq)
            }.toMap)
          else None
        }
      val readSchema0 = dataReadSchema(spark, m)
      val readSchema = lin.map(_ =>
        StructType(readSchema0.fields ++ lineageFields)).getOrElse(readSchema0)
      val readIds = lin.map(_ => m.fieldIds +
        ("_row_id" -> rowIdFieldId) +
        ("_last_updated_sequence_number" -> lastUpdatedSeqFieldId))
        .getOrElse(m.fieldIds)
      val candDf =
        if (cands.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            StructType(m.schema.fields ++
              lin.map(_ => lineageFields).getOrElse(Seq.empty) ++ Seq(
              StructField(posFileCol, StringType),
              StructField(posPosCol, LongType))))
        else if (defaults.nonEmpty) {
          // fill-grouped candidate read (shared machinery): each group
          // reads with the defaults its files must FILL — passed into
          // the read so equality-delete matching sees logical values —
          // keeping the row-position meta
          val outCols = (m.schema.fieldNames.toIndexedSeq ++
            Seq(posFileCol, posPosCol)).map(col)
          fillGrouped(table, m, defaults, cands) { (group, fills) =>
            if (group.isEmpty) None
            else Some(readWithDeletes(spark, table, readSchema,
              Some(basePath), group, dels, withMeta = true, ids = readIds,
              fills = fills).select(outCols: _*))
          }.get // cands nonEmpty here; the fold preserves column order
        } else {
          val raw = readWithDeletes(spark, table, readSchema,
            Some(basePath), cands, dels, withMeta = true, ids = readIds)
          lin match {
            case None => raw
            case Some(l) =>
              val baseDf = broadcast(cands.map { f =>
                val (first, dseq) = l(fileNameOf(f.path))
                (fileNameOf(f.path), first, Option(dseq))
              }.toDF(posNameCol, "__graft_first_row_id", "__graft_dseq"))
              raw.withColumn(posNameCol,
                  substring_index(col(posFileCol), "/", -1))
                .join(baseDf, posNameCol)
                .withColumn("_row_id", coalesce(col("_row_id"),
                  col("__graft_first_row_id") + col(posPosCol)))
                .withColumn("_last_updated_sequence_number",
                  coalesce(col("_last_updated_sequence_number"),
                    col("__graft_dseq")))
                .select((m.schema.fieldNames.toIndexedSeq ++
                  Seq("_row_id", "_last_updated_sequence_number",
                    posFileCol, posPosCol)).map(col): _*)
          }
        }
      val (posDf0, appends) = delta(candDf, m.schema)
      val posDf = posDf0.select(col(posFileCol), col(posPosCol)).persist()
      try {
        val nPos = posDf.count()
        if (nPos == 0 && appends.isEmpty && !commitWhenUntouched) return None
        // distinct REFERENCED files — metadata-scale by construction
        // (bounded by the pruned candidate count)
        val touchedFiles =
          if (nPos == 0) Set.empty[String]
          else posDf.select(col(posFileCol)).distinct()
            .collect().map(_.getString(0)).toSet
        // v3 tables land position deletes as puffin DELETION VECTORS
        // (the spec forbids ADDING position-delete parquets in v3);
        // the new DV unions any prior DV / prior position-delete rows
        // for its file, superseding the old DV entry
        val useDv = m.formatVersion == 3
        val (deleteAdded, superseded) =
          if (nPos == 0) (Seq.empty[DataFileInfo], Set.empty[String])
          else if (useDv) writeDvFiles(spark, table, posDf, dels)
          else (writeDeleteFiles(spark, table, posDf, nPos), Set.empty[String])
        val added = appends.map(a =>
          writeDataFiles(spark, table, a, m.partitionColumns, m.schema,
            extraStatFields =
              if (lin.isDefined && a.columns.contains("_row_id"))
                lineageFields else Seq.empty,
            extraIds =
              if (lin.isDefined && a.columns.contains("_row_id"))
                Map("_row_id" -> rowIdFieldId,
                  "_last_updated_sequence_number" -> lastUpdatedSeqFieldId)
              else Map.empty))
          .getOrElse(Seq.empty)
        if (deleteAdded.isEmpty && added.isEmpty) return None // true no-op
        val op =
          if (deleteAdded.isEmpty) "append" // insert-only: streams keep flowing
          else if (added.isEmpty) "delete"
          else "overwrite"
        val committed = commitSnapshot(spark, table, m.schema,
          m.partitionColumns, added, txn = None, operation = op,
          replaced = Set.empty,
          conflict = Some((baseLive, conflictPred)),
          deleteAdded = deleteAdded,
          mustBeLive = touchedFiles,
          baseDeletes = Some(dels.map(_.path).toSet),
          supersededDv = superseded,
          fillAware = true)
        committed match {
          case Some(_) =>
            maybeAutoOptimize(spark, table)
            return committed
          case None => (deleteAdded ++ added).foreach(a =>
            Files.deleteIfExists(Paths.get(a.path)))
        }
      } finally { posDf.unpersist(); () }
    }
    sys.error(s"$table: merge-on-read DML lost 5 concurrent-write races; giving up")
  }

  /** Write sorted position-delete files from a (`__graft_file`,
    * `__graft_pos`) frame: range-partitioned then sorted on
    * (file_path, pos) so the set is globally in spec order, ~20M
    * positions per file. Linked under `data/` as
    * `delete-<uuid>.parquet` (same GC root as data files —
    * [[expireSnapshots]] reclaims them by the same manifest walk).
    */
  private def writeDeleteFiles(spark: SparkSession, table: String,
      posDf: DataFrame, nPos: Long): Seq[DataFileInfo] = {
    import org.apache.spark.sql.functions.col
    val dataRoot = Paths.get(table, "data")
    Files.createDirectories(dataRoot)
    val scratch = Paths.get(table, s".graft-iceberg-del-${UUID.randomUUID()}")
    val n = math.max(1L, math.min(128L, (nPos + 19999999L) / 20000000L)).toInt
    withFieldIds(
      posDf.select(col(posFileCol).as("file_path"), col(posPosCol).as("pos")),
      Map("file_path" -> deletePathFieldId, "pos" -> deletePosFieldId))
      .repartitionByRange(n, col("file_path"), col("pos"))
      .sortWithinPartitions("file_path", "pos")
      .write.mode("overwrite").parquet(scratch.toString)
    val parts = walkDir(scratch).filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    val added = parts.map { p =>
      val dest = dataRoot.resolve(s"delete-${UUID.randomUUID()}.parquet")
      try Files.createLink(dest, p)
      catch { case _: UnsupportedOperationException =>
        Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE) }
      deleteFileStats(spark, table, dest)
    }
    walkDir(scratch).reverse.foreach(Files.deleteIfExists(_))
    added
  }

  /** v3 DELETION VECTORS for a (`__graft_file`, `__graft_pos`) frame:
    * bitmaps build EXECUTOR-side (the driver only receives
    * roaring-compressed bytes, never raw positions), each unioned with
    * the file's PRIOR deletes — an existing DV (the spec allows at most
    * one per data file; ours supersedes it) and any prior
    * position-delete parquet rows naming the file (v3 writers must
    * fold those in — the old parquet entry stays for its OTHER files;
    * double-retraction is idempotent). One puffin file per commit
    * holds every blob, with a spec-compliant footer
    * ([[graft.formats.Puffin.writeDvFileOf]]). Returns (DV entries for
    * the DELETES manifest, superseded data-file NAMES whose old DV
    * entry the commit must drop).
    */
  private def writeDvFiles(spark: SparkSession, table: String,
      posDf: DataFrame, dels: Seq[DeleteFile])
      : (Seq[DataFileInfo], Set[String]) = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dataRoot = Paths.get(table, "data")
    Files.createDirectories(dataRoot)
    val newBitmaps: Seq[(String, Array[Byte])] =
      posDf.as[(String, Long)].groupByKey(_._1)
        .mapGroups((f, it) =>
          (f, DeletionVectors.bitmapOf(it.map(_._2)).serialize()))
        .collect().toSeq.sortBy(_._1)
    val priorDvByName = dels
      .filter(d => d.content == 1 && d.isDv)
      .groupBy(d => fileNameOf(d.referencedDataFile.get))
    // the prior-DV union and the supersede set both key by FILE NAME —
    // same-named files in different partitions would cross-contaminate
    // (wrong rows deleted, live DVs dropped); guard like every other
    // name-keyed path does
    requireUniqueNames(table,
      (newBitmaps.map(_._1) ++
        dels.filter(d => d.content == 1 && d.isDv)
          .flatMap(_.referencedDataFile)).distinct,
      "DV-referenced data files")
    val priorPos = dels.filter(d => d.content == 1 && !d.isDv)
    val touchedPaths = newBitmaps.map(_._1)
    val priorPosRows: Map[String, Seq[Long]] =
      if (priorPos.isEmpty) Map.empty
      else spark.read.schema(deleteFileSchema)
        .parquet(priorPos.map(_.path): _*)
        // broadcast semi-join, not isin(): a wide DML can touch 10⁴+
        // files and a literal In-list that size breaks codegen
        .join(org.apache.spark.sql.functions.broadcast(
          touchedPaths.toDF("file_path")), Seq("file_path"))
        .as[(String, Long)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val merged: Seq[(String, DeletionVectors.Bitmap)] =
      newBitmaps.map { case (path, bytes) =>
        var bm = DeletionVectors.deserialize(bytes)
        priorDvByName.getOrElse(fileNameOf(path), Seq.empty).foreach { d =>
          bm = DeletionVectors.union(bm, DeletionVectors.loadIcebergDv(
            localPath(d.path), d.contentOffset.get, d.contentSize.get)
            .positions)
        }
        priorPosRows.get(path).foreach(ps =>
          bm = DeletionVectors.union(bm, ps.iterator))
        (path, bm)
      }
    val (file, at) = graft.formats.Puffin.writeDvFileOf(dataRoot, merged)
    val abs = file.toAbsolutePath.toString
    val size = Files.size(file)
    val infos = merged.map { case (path, bm) =>
      val (off, len) = at(path)
      DataFileInfo(abs, size, bm.cardinality, Seq.empty,
        ColMetrics(Map.empty, Map.empty, Map.empty, Map.empty),
        fileFormat = "PUFFIN", dv = Some((path, off, len)))
    }
    (infos, touchedPaths.map(fileNameOf)
      .filter(priorDvByName.contains).toSet)
  }

  /** Footer harvest for a position-delete file: metrics re-keyed from
    * schema positions to the spec-reserved field ids, so the manifest's
    * file_path bounds let readers skip clean data files.
    */
  private def deleteFileStats(spark: SparkSession, table: String,
      dest: Path): DataFileInfo = {
    val info = statFile(spark, table, dest, deleteFileSchema,
      tableFieldIds(deleteFileSchema))
    def rekey[T](mm: Map[Int, T]): Map[Int, T] = mm.map { case (k, v) =>
      (if (k == 1) deletePathFieldId else deletePosFieldId) -> v }
    DataFileInfo(info.path, info.size, info.records, Seq.empty,
      ColMetrics(rekey(info.metrics.valueCounts), rekey(info.metrics.nullCounts),
        rekey(info.metrics.lower), rekey(info.metrics.upper)))
  }

  /** [[DeltaLog.autoOptimizeProp]]'s iceberg twin — same property name,
    * same semantics: a merge-on-read commit whose deleted-rows/live-rows
    * ratio reaches the threshold triggers the bounded dirty-file
    * compaction (smallBytes = 0 matches no clean file; the delete
    * manifests purge with it). Metadata-only: both sums ride the
    * manifests. Equality-delete records count KEYS, not matched rows —
    * a conservative-enough proxy (each key retracts ≥ 0 rows; a key
    * that retracts many pushes the real ratio higher, never lower than
    * the trigger sees... the proxy can UNDER-count, so the threshold is
    * a floor on responsiveness, not a ceiling on rent — documented).
    */
  private def maybeAutoOptimize(spark: SparkSession, table: String): Unit = {
    val m = current(table).getOrElse(return)
    val ratio = m.properties.get(DeltaLog.autoOptimizeProp) match {
      case None => return
      case Some(v) => try v.toDouble catch {
        case _: NumberFormatException =>
          sys.error(s"$table: ${DeltaLog.autoOptimizeProp}='$v' is not a number")
      }
    }
    require(ratio > 0, s"$table: ${DeltaLog.autoOptimizeProp} must be > 0")
    val dels = deleteFiles(table, None)
    if (dels.isEmpty) return
    val deleted = dels.map(_.records).sum
    val live = math.max(1L,
      liveFiles(table, None).filter(_.status != 2).map(_.records).sum - deleted)
    if (deleted.toDouble / live >= ratio) {
      // runs AFTER the data commit landed: a compaction failure must not
      // fail/replay the caller's already-succeeded batch — same default
      // as the delta twin, with the same strict opt-in
      try { rewriteDataFiles(spark, table, smallBytes = Some(0L)); () }
      catch { case scala.util.control.NonFatal(e) =>
        if (DeltaLog.isStrict(m.properties)) throw e
        Console.err.println(s"[iceberg] $table: auto-OPTIMIZE after a " +
          s"landed commit failed (${e.getMessage}); the data commit " +
          "stands — the next qualifying commit retries. Set " +
          s"${DeltaLog.autoOptimizeStrictProp}=true to propagate instead.")
      }
    }
  }

  /** Streaming-upsert row delta (the public `write.upsert.enabled`
    * shape; format-v2 EQUALITY deletes): commit ONE snapshot carrying an
    * equality-delete file over the batch's keys plus data files for the
    * batch's live rows — WITHOUT reading the target at all. The v2
    * sequence rule scopes the delete to strictly-older data files, so
    * the same commit's own appends are exempt and last-writer-wins per
    * key falls out of snapshot ordering. Cost per commit: O(batch),
    * whatever the table size — the zero-read CDC landing path (reads pay
    * the equality anti-join until OPTIMIZE folds the deletes in).
    *
    * `batch` = the table's data columns + `__graft_deleted`; it must be
    * unique per key (checkUnique=true enforces it with one small agg
    * when the caller can't prove it — two rows per key would make
    * last-writer-wins order-dependent). Returns the committed metadata
    * version, or None for an empty batch.
    */
  def upsertAppend(spark: SparkSession, table: String, batch: DataFrame,
      keys: Seq[String], checkUnique: Boolean = false): Option[Int] = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "upsert append: at least one key column")
    val m = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
    keys.foreach(k => require(m.schema.fieldNames.contains(k),
      s"upsert append: no key column $k in $table"))
    batch.persist()
    try {
      if (checkUnique) {
        val dup = batch.groupBy(keys.map(col): _*).count()
          .filter(col("count") > 1).limit(1).count()
        if (dup > 0) throw new IllegalStateException(
          "upsert append: the batch carries more than one row per key; " +
            "last-writer-wins would be order-dependent. Deduplicate the " +
            "batch on the keys first (orderBy on the sink does this).")
      }
      val nRows = batch.count()
      if (nRows == 0) return None
      // PARTITION-SCOPED deletes when the merge keys cover the partition
      // columns: every key equality implies a partition equality, so the
      // delete can legally carry partition values under the table spec —
      // scans of untouched partitions then skip the anti-join rent
      // entirely. Capped by dirty-partition count: a backfill touching
      // thousands of partitions would mint a delete file per partition
      // (metadata bloat the global file avoids).
      val scope: Seq[String] =
        if (m.partitionColumns.nonEmpty &&
            m.partitionColumns.forall(keys.contains) &&
            // a micro-batch of ≤1024 rows bounds its partition count for
            // free; only a bulk batch pays the distinct-count probe
            (nRows <= 1024L ||
              batch.select(m.partitionColumns.map(col): _*)
                .distinct().limit(1025).count() <= 1024L))
          m.partitionColumns
        else Seq.empty
      val eqAdded = writeEqualityDeleteFiles(spark, table,
        batch.select(keys.map(col): _*), m.schema, nKeys = nRows,
        partitionScope = scope)
      val alive = batch.filter(!col("__graft_deleted"))
        .select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
      val added = writeDataFiles(spark, table, alive, m.partitionColumns, m.schema)
      // fillAware (r17): the zero-read upsert writes delete+append
      // without reading the target, and initial-defaults only matter at
      // READ time — where the equality match now sees per-file FILLED
      // values (readWithDeletes' fills), so a delete keyed on a default
      // column retracts pre-field rows correctly
      val committed = commitSnapshot(spark, table, m.schema, m.partitionColumns,
        added, txn = None, operation = "overwrite", replaced = Set.empty,
        deleteAdded = eqAdded, deleteContent = 2, fillAware = true)
      if (committed.isEmpty)
        (eqAdded ++ added).foreach(a => Files.deleteIfExists(Paths.get(a.path)))
      else maybeAutoOptimize(spark, table)
      committed
    } finally { batch.unpersist(); () }
  }

  /** Write the batch's key values as equality-delete files, each entry
    * stamped with the spec's `equality_ids` (the table field ids of the
    * key columns — the REQUIRED identification of the columns a
    * content=2 file matches on). The footer harvest runs under the
    * TABLE schema, so the bounds/counts land under the table field ids
    * — how the reader skips clean data files by key bounds. The part
    * count scales with the key-set size (a micro-batch lands ONE file;
    * a bulk backfill through the upsert path fans out instead of
    * funnelling every key through one task).
    */
  private def writeEqualityDeleteFiles(spark: SparkSession, table: String,
      keysDf: DataFrame, tableSchema: StructType, nKeys: Long,
      idsOverride: Option[Seq[Int]] = None,
      /** Non-empty = PARTITION-SCOPED deletes (the merge keys cover the
        * partition columns, [[upsertAppend]]): one delete file per dirty
        * partition, manifest entries under the TABLE spec with real
        * partition values — a spec-conformant reader (and [[eqApplies]])
        * confines the anti-join rent to the dirty partitions instead of
        * taxing every partition until OPTIMIZE. Files still carry ALL
        * key columns in content (the equality columns must be readable
        * from the file itself). */
      partitionScope: Seq[String] = Seq.empty): Seq[DataFileInfo] = {
    import org.apache.spark.sql.functions.col
    val dataRoot = Paths.get(table, "data")
    Files.createDirectories(dataRoot)
    val declared = fieldIdsFor(current(table), tableSchema)
    val keyIds = idsOverride.getOrElse(
      keysDf.columns.toSeq.map(c =>
        declared.getOrElse(c, tableSchema.fieldIndex(c) + 1)))
    val scratch = Paths.get(table, s".graft-iceberg-eqdel-${UUID.randomUUID()}")
    val stamped = withFieldIds(keysDf, declared)
    if (partitionScope.isEmpty) {
      // ~4M keys per file keeps each within a comfortable broadcast share
      // on read; hash repartition only when the set genuinely needs >1
      val n = math.max(1L, math.min(64L, (nKeys + 3999999L) / 4000000L)).toInt
      (if (n == 1) stamped.coalesce(1) else stamped.repartition(n))
        .write.mode("overwrite").parquet(scratch.toString)
    } else {
      // SHADOW partition columns drive the hive split so the real key
      // columns stay IN the file content (partitionBy drops its dirs'
      // columns); repartition first so each dirty partition lands whole
      // in one task → exactly one delete file per dirty partition
      val shadows = partitionScope.map(c => col(s"`$c`").as(s"__gpart_$c"))
      stamped.select((stamped.columns.map(c => col(s"`$c`")) ++ shadows)
          .toIndexedSeq: _*)
        .repartition(partitionScope.map(c => col(s"`$c`")): _*)
        .write.mode("overwrite")
        .partitionBy(partitionScope.map("__gpart_" + _): _*)
        .parquet(scratch.toString)
    }
    val parts = walkDir(scratch).filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    val added = parts.map { p =>
      // __gpart_c=v scratch dirs become the table's own c=v hive dirs, so
      // statFile's partitionValuesOf harvest reads them like data files
      val hiveRel = Option(scratch.relativize(p).getParent)
        .map(_.toString.split('/').map(_.stripPrefix("__gpart_")).mkString("/"))
        .getOrElse("")
      val destDir =
        if (hiveRel.isEmpty) dataRoot else dataRoot.resolve(hiveRel)
      Files.createDirectories(destDir)
      val dest = destDir.resolve(s"eqdelete-${UUID.randomUUID()}.parquet")
      try Files.createLink(dest, p)
      catch { case _: UnsupportedOperationException =>
        Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE) }
      val st = statFile(spark, table, dest, tableSchema, declared)
      (if (partitionScope.isEmpty) st.copy(partitionValues = Seq.empty) else st)
        .copy(equalityIds = Some(keyIds))
    }
    walkDir(scratch).reverse.foreach(Files.deleteIfExists(_))
    added
  }

  /** Commit a pre-shaped EQUALITY-delete frame: every `df` column is
    * written into the delete file (with metrics), but the delete
    * matches ONLY on `equalityIds` — the third-party shape where a
    * delete file carries more columns than it keys on. Test/ingestion
    * seam for spec conformance; the engine's own upserts go through
    * [[upsertAppend]].
    */
  private[graft] def addEqualityDeleteFile(spark: SparkSession, table: String,
      df: DataFrame, equalityIds: Seq[Int]): Option[Int] = {
    val m = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
    require(equalityIds.nonEmpty &&
      equalityIds.forall(id => id >= 1 && id <= m.schema.fields.length),
      s"addEqualityDeleteFile: bad equality ids $equalityIds")
    val added = writeEqualityDeleteFiles(spark, table, df, m.schema,
      nKeys = df.count(), idsOverride = Some(equalityIds))
    val committed = commitSnapshot(spark, table, m.schema, m.partitionColumns,
      Seq.empty, txn = None, operation = "delete", replaced = Set.empty,
      deleteAdded = added, deleteContent = 2)
    if (committed.isEmpty)
      added.foreach(a => Files.deleteIfExists(Paths.get(a.path)))
    committed
  }

  /** `ALTER TABLE … SET TBLPROPERTIES`: a metadata-only version bump
    * merging `props` into the table properties (no snapshot — streaming
    * tails link nothing). Returns the committed metadata version
    * (idempotent: re-setting current values commits nothing).
    */
  def setTableProperties(spark: SparkSession, table: String,
      props: Map[String, String]): Int = {
    val dir = metaDir(table)
    var attempt = 0
    while (attempt < 1000) {
      attempt += 1
      val m = current(table).getOrElse(
        sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
      require(!m.catalogManaged,
        s"$table uses catalog-managed metadata naming (${m.metaFileName}); " +
          "route property changes through its catalog")
      // `format-version` is TOP-LEVEL metadata, not a property: a "3"
      // here is the v2→v3 upgrade (iceberg-java's TableProperties
      // FORMAT_VERSION shape) — subsequent position deletes land as
      // puffin deletion vectors and the metadata maintains next-row-id
      val fvReq = props.get("format-version").map(_.toInt)
      fvReq.foreach { v =>
        require(v == m.formatVersion || (m.formatVersion == 2 && v == 3),
          s"$table: format-version ${m.formatVersion} → $v is not a " +
            "supported upgrade (2 → 3 only; downgrades never)")
      }
      val plainProps = props - "format-version"
      val fvChanges = fvReq.exists(_ != m.formatVersion)
      if (!fvChanges &&
          plainProps.forall { case (k, v) => m.properties.get(k).contains(v) })
        return m.version
      val root = m.node.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      if (fvChanges) {
        root.put("format-version", 3)
        // row-lineage counter starts fresh: nothing in the v2 history
        // carries assigned row ids
        if (!root.has("next-row-id")) root.put("next-row-id", 0L)
      }
      val propsNode = mapper.createObjectNode()
      (m.properties ++ plainProps).foreach { case (k, v) => propsNode.put(k, v) }
      root.set[com.fasterxml.jackson.databind.JsonNode]("properties", propsNode)
      root.put("last-updated-ms", System.currentTimeMillis())
      val newVersion = m.version + 1
      val tmp = dir.resolve(s".${UUID.randomUUID()}.tmp")
      Files.write(tmp, root.toString.getBytes("UTF-8"))
      val target = dir.resolve(s"v$newVersion.metadata.json")
      val claimed =
        try {
          try { Files.createLink(target, tmp); true }
          catch { case _: UnsupportedOperationException =>
            Files.move(tmp, target); true }
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally Files.deleteIfExists(tmp)
      if (claimed) {
        Files.write(dir.resolve("version-hint.text"),
          newVersion.toString.getBytes("UTF-8"))
        return newVersion
      }
    }
    sys.error(s"iceberg SET TBLPROPERTIES lost $attempt version races; giving up")
  }

  /** Copy-on-write `DELETE FROM … WHERE predicate` — the iceberg twin of
    * [[DeltaLog.deleteWhere]]: only the files holding matching rows
    * (manifest-metrics-pruned, then row-verified) are rewritten, and the
    * swap lands as ONE `overwrite` snapshot (added entries for the
    * rewritten files, EXISTING entries for everything untouched). Prior
    * snapshots still see the old rows — time travel until
    * [[expireSnapshots]]. Returns the committed metadata version, or
    * None when no row matched. Conflict rules: aborts-and-replans when a
    * touched file was concurrently replaced OR a concurrently-appended
    * file may hold matching rows (serializable, like delta-spark's
    * DELETE).
    */
  def deleteWhere(spark: SparkSession, table: String,
      predicate: String): Option[Int] = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    val p = predicate.trim
    require(p.nonEmpty, "DELETE: empty predicate (use 'true' to delete all rows)")
    val m = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
    if (morMode(m, "delete"))
      // merge-on-read: retract the matching POSITIONS, rewrite nothing
      morRun(spark, table, scanFilter = Some(p), conflictPred = Some(p)) {
        (cand, _) => (cand.filter(coalesce(expr(p), lit(false)))
          .select(col(posFileCol), col(posPosCol)), None)
      }
    else DmlRewrite.run(spark, new DmlFormat(spark, table, withLineage = true),
      scanFilter = Some(p),
      conflictPred = Some(p),
      matcher = df => df.filter(coalesce(expr(p), lit(false)))) {
      // the filter keeps every input column — the lineage carry columns
      // (when armed) ride through unchanged: survivors of a DELETE keep
      // both their _row_id and their _last_updated_sequence_number
      (touched, _, _) => touched.filter(not(coalesce(expr(p), lit(false))))
    }
  }

  /** Copy-on-write `UPDATE … SET col = expr, … [WHERE predicate]` — the
    * iceberg twin of [[DeltaLog.updateWhere]]. Rows whose updated
    * identity-partition column changes migrate to their new partition
    * directory (the rewrite re-partitions on write). Returns the
    * committed metadata version, or None when no row matched.
    */
  def updateWhere(spark: SparkSession, table: String,
      sets: Seq[(String, String)], predicate: Option[String]): Option[Int] = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    require(sets.nonEmpty, "UPDATE: no SET assignments")
    require(sets.map(_._1).distinct.size == sets.size,
      "UPDATE: duplicate SET column")
    // dotted lhs = NESTED field assignment (`SET s.qty = …`, r16 — the
    // delta twin's shape): the struct rebuilds via withField, grouped
    // per top-level column, everything evaluated against the OLD row
    val (nested, flat) = sets.partition(_._1.contains("."))
    val byCol = flat.toMap
    val nestedByTop: Map[String, Seq[(Seq[String], String)]] =
      nested.map { case (c, e) => (c.split('.').toSeq, e) }
        .groupBy(_._1.head)
    nestedByTop.keys.foreach(t => require(!byCol.contains(t),
      s"UPDATE: cannot SET both $t and a field inside it"))
    val p = predicate.map(_.trim).filter(_.nonEmpty)
    val cond = coalesce(p.map(expr).getOrElse(lit(true)), lit(false))
    def typeAtPath(schema: StructType, segs: Seq[String]): DataType =
      segs.foldLeft[DataType](schema) {
        case (st: StructType, seg) =>
          require(st.fieldNames.contains(seg),
            s"UPDATE $table: no column ${segs.mkString(".")}")
          st(seg).dataType
        case (other, seg) => throw new IllegalArgumentException(
          s"UPDATE $table: '$seg' reached through ${other.simpleString}, " +
            "not a struct")
      }
    def quoted(n: String): String = s"`${n.replace("`", "``")}`"
    // post-image projection shared by CoW and MoR: SQL UPDATE semantics
    // (every RHS and the predicate see the OLD row), nested or flat.
    // When the input carries the v3 lineage columns (r16), postimages
    // KEEP `_row_id` and BUMP `_last_updated_sequence_number` to null —
    // the committing file's data sequence inherits, per the spec.
    def applySets(df: DataFrame, schema: StructType, onlyMatching: Boolean) = {
      (flat.map(_._1) ++ nestedByTop.keys).foreach(c => require(
        schema.fieldNames.contains(c.split('.').head),
        s"UPDATE $table: no column $c"))
      val lineageCarry: Seq[org.apache.spark.sql.Column] =
        if (!df.columns.contains("_row_id")) Seq.empty
        else Seq(col("_row_id"),
          (if (onlyMatching) lit(null).cast(LongType)
           else when(cond, lit(null).cast(LongType))
             .otherwise(col("_last_updated_sequence_number")))
            .as("_last_updated_sequence_number"))
      df.select(schema.fields.toIndexedSeq.map { f =>
        (byCol.get(f.name), nestedByTop.get(f.name)) match {
          case (Some(e), _) if onlyMatching =>
            expr(e).cast(f.dataType).as(f.name)
          case (Some(e), _) =>
            when(cond, expr(e).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case (None, Some(ns)) =>
            val updated = ns.foldLeft(col(quoted(f.name))) {
              case (c, (segs, e)) => c.withField(segs.tail.mkString("."),
                expr(e).cast(typeAtPath(schema, segs)))
            }
            (if (onlyMatching) updated
             else when(cond, updated).otherwise(col(quoted(f.name)))).as(f.name)
          case _ => col(f.name)
        }
      } ++ lineageCarry: _*)
    }
    val m = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
    if (morMode(m, "update"))
      // merge-on-read row delta: retract matching positions, append the
      // postimages (rows whose identity-partition value changed migrate
      // with the partitioned append write)
      return morRun(spark, table, scanFilter = p, conflictPred = p,
        withLineage = true) {
        (cand, schema) =>
          val matched = p.map(pp => cand.filter(coalesce(expr(pp), lit(false))))
            .getOrElse(cand)
          val post = applySets(matched, schema, onlyMatching = true)
          (matched.select(col(posFileCol), col(posPosCol)), Some(post))
      }
    DmlRewrite.run(spark, new DmlFormat(spark, table, withLineage = true),
      scanFilter = p,
      conflictPred = p,
      matcher = df => p.map(pp => df.filter(coalesce(expr(pp), lit(false))))
        .getOrElse(df)) {
      (touched, _, schema) => applySets(touched, schema, onlyMatching = false)
    }
  }

  /** `MERGE INTO … USING … ON …` — copy-on-write upsert, the iceberg
    * twin of [[DeltaLog.merge]] (same [[Merge.rewrite]] row semantics,
    * same [[Merge.keyBoundsFilter]] pruning, same shared [[DmlRewrite]]
    * cycle; lands as ONE `overwrite` snapshot with not-matched inserts
    * in the same swap — or an `append` snapshot for insert-only merges,
    * which rewrite nothing). Returns the committed metadata version, or
    * None when the merge was a no-op.
    */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      clauses: Merge.Clauses): Option[Int] = {
    val m0 = current(table).getOrElse(
      sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
    clauses.updateCols.foreach(cname =>
      require(m0.schema.fieldNames.contains(cname),
        s"MERGE: no column $cname in $table"))
    // v3 write-defaults (r17): an INSERT clause leaving a
    // default-carrying column unspecified writes the spec's value —
    // same rule the append path applies; an explicit SET always wins
    val wd: Map[String, Any] =
      writeDefaultFields(m0).map { case (sf, v) => sf.name -> v }.toMap
    source.persist()
    try {
      // NOT MATCHED BY SOURCE must see every target row absent from the
      // source, so those clauses disable source-key-bounds pruning
      val scanFilter = if (Merge.pruneBySourceKeys(clauses))
        Merge.keyBoundsFilter(spark, clauses, source, m0.schema) else None
      if (morMode(m0, "merge"))
        // merge-on-read row delta: matched rows taking a clause retract
        // by position; updates' postimages + not-matched inserts append.
        // Lineage-armed (r16): postimages keep _row_id / bump sequence,
        // inserts inherit from the appended file's assignment base
        return morRun(spark, table, scanFilter, conflictPred = None,
          commitWhenUntouched = clauses.notMatchedInsert.isDefined,
          withLineage = true) {
          (cand, schema) => {
            val (positions, appends) =
              Merge.rowDelta(cand, source, schema, clauses, posFileCol,
                posPosCol, wd)
            (positions, Some(appends))
          }
        }
      if (clauses.matched.isEmpty && clauses.notBySource.isEmpty)
        // insert-only fast path: a pure APPEND snapshot — the spec's
        // assignment rule covers it, no lineage materialization needed
        DmlRewrite.run(spark, new DmlFormat(spark, table), scanFilter,
          conflictPred = None,
          matcher = identity, touchDetect = false,
          commitWhenUntouched = clauses.notMatchedInsert.isDefined) {
          (_, cands, schema) =>
            Merge.insertRows(cands, source, schema, clauses, wd)
        }
      else
        DmlRewrite.run(spark, new DmlFormat(spark, table, withLineage = true),
          scanFilter, conflictPred = None,
          matcher = Merge.matcher(source, clauses),
          commitWhenUntouched = clauses.notMatchedInsert.isDefined) {
          (touched, _, schema) =>
            Merge.rewrite(touched, source, schema, clauses, wd)
        }
    } finally { source.unpersist(); () }
  }

  /** [[DmlRewrite.Format]] adapter — the iceberg side of the shared DML
    * cycle: manifest-metrics planning, footer-metrics harvest, and the
    * overwrite/append snapshot commit. An insert-only merge (zero files
    * replaced) commits as an APPEND — calling it overwrite would make a
    * running stream refuse (or, under ignore_deletes, silently skip)
    * rows a plain append delivers.
    */
  private final class DmlFormat(spark: SparkSession, val table: String,
      /** v3 row-lineage materialization (r16): UPDATE/DELETE rewrites
        * carry `_row_id`/`_last_updated_sequence_number` through the
        * cycle and land them in the rewritten files (reserved field
        * ids; manifest metrics prove presence). Armed per planning
        * round only when EVERY candidate's lineage is resolvable —
        * otherwise the legacy rewrite runs and lineage reads keep
        * refusing those files, exactly as before. MERGE is
        * lineage-armed too (both CoW and MoR pass withLineage=true;
        * Merge.lineageCarry/insertRows thread the columns — inserts
        * carry null ids and inherit from the appended file). */
      withLineage: Boolean = false)
      extends DmlRewrite.Format[DataFileInfo, Int] {
    // the delete files the current planning round saw: candidate reads
    // apply them (a copy-on-write rewrite must NOT resurrect
    // merge-on-read-deleted rows) and the commit aborts if the set GREW
    // (a concurrent MoR DML's retractions were invisible to our reads)
    @volatile private var plannedDeletes: Seq[DeleteFile] = Seq.empty
    @volatile private var plannedLive: Map[String, LiveFile] = Map.empty
    // hoisted once per planning round: harvest runs per written file
    @volatile private var plannedIds: Map[String, Int] = Map.empty
    // field-id-stamped iff the schema history shows a rename: candidate
    // reads must resolve pre-rename files by id, or the rewrite would
    // null the renamed column in every row it carries forward
    @volatile private var plannedReadSchema: StructType = new StructType()
    // name → (assignment base, data sequence) when lineage is armed
    @volatile private var plannedLin: Option[Map[String, (Option[Long], Long)]] = None
    // v3 initial-defaults this round's candidate reads must FILL per
    // file (r16 — lifts the DML refusal on default-carrying tables)
    @volatile private var plannedM: Option[Meta] = None
    @volatile private var plannedDefaults: Seq[(StructField, Any)] = Seq.empty
    def plan(scanFilter: Option[String]): DmlRewrite.Plan = {
      val m = current(table).getOrElse(
        sys.error(s"$table is not an Iceberg table (no metadata/v*.metadata.json)"))
      plannedM = Some(m)
      plannedDefaults = initialDefaultFields(m)
      plannedIds = fieldIdsFor(Some(m), m.schema)
      plannedReadSchema = dataReadSchema(spark, m)
      // plan-time live set: anything appearing after this is a potential
      // ConcurrentAppend conflict the commit must judge
      val liveNow = liveFiles(table, None).filter(_.status != 2)
      val baseLive = liveNow.map(_.path).toSet
      plannedDeletes = deleteFiles(table, None)
      plannedLive = liveNow.map(f =>
        Paths.get(f.path).toAbsolutePath.normalize.toString -> f).toMap
      val (candidates, _) = planFiles(spark, table, None, scanFilter)
      plannedLin =
        // lineage reads refuse defaults; non-idStampable schemas (r17 —
        // list/map columns) write NO parquet field ids, so materialized
        // lineage columns would lack the reserved ids a spec-conformant
        // reader resolves by (name mapping doesn't cover them either) —
        // legacy rewrite instead, like the duplicate-name fallback
        if (!withLineage || m.formatVersion != 3 ||
            plannedDefaults.nonEmpty || !idStampable(m.schema)) None
        else {
          val lin = lineageOf(table, m)
          // name-keyed resolution: duplicate file names (a third-party
          // layout) or an unresolvable candidate both fall back to the
          // legacy rewrite — lineage reads refuse those files either
          // way, so nothing regresses and nothing mis-assigns
          val names = candidates.map(f => fileNameOf(f.path))
          if (names.distinct.size == names.size &&
              candidates.forall(f => lin.contains(fileNameOf(f.path))))
            Some(lin.view.mapValues {
              case LinAssigned(first, seq) => (first, seq)
              case LinMaterialized(first, seq) => (first, seq)
            }.toMap)
          else None
        }
      DmlRewrite.Plan(m.schema, m.partitionColumns,
        candidates.map(f => DmlRewrite.Cand(
          Paths.get(f.path).toAbsolutePath.normalize.toString, f.path, f.size)),
        baseLive)
    }
    override def carryFields: Seq[StructField] =
      if (plannedLin.isDefined) lineageFields else Seq.empty
    private def lineageIdMap: Map[String, Int] = plannedIds +
      ("_row_id" -> rowIdFieldId) +
      ("_last_updated_sequence_number" -> lastUpdatedSeqFieldId)
    def basePath: String = Paths.get(table, "data").toAbsolutePath.toString
    def dataRoot: Path = Paths.get(table, "data")
    def scratchPrefix: String = ".graft-iceberg-dml-"
    override def readFiles(spark: SparkSession, schema0: StructType,
        paths: Seq[String], fileCol: Option[String]): DataFrame = {
      import org.apache.spark.sql.functions.col
      // schema0 is always plan.schema (logical names); the stamped twin
      // carries the same names plus parquet field ids where needed. A
      // caller handing a DIFFERENT schema on a renamed-history table
      // would silently read pre-rename files as nulls — refuse instead.
      val schema =
        if (plannedReadSchema.fieldNames.sameElements(schema0.fieldNames))
          plannedReadSchema
        else if (plannedReadSchema.fields.exists(_.metadata.contains("parquet.field.id")))
          sys.error(s"$table: DML read schema diverged from the plan on a " +
            "renamed-history table; by-name binding would misread " +
            "pre-rename files")
        else schema0
      plannedLin match {
        case Some(lin) => readWithCarriedLineage(spark, schema, paths, fileCol, lin)
        case None if plannedDefaults.isEmpty =>
          readPlain(spark, schema, paths, fileCol)
        case None =>
          // initial-default candidates (r16, shared fill machinery in
          // r17): group by the fills each FILE needs (metadata-only,
          // ≤2^|defaults| groups) so the rewrite reads CORRECT values —
          // the default materializes into postimages, which is exactly
          // the row's value; the fills thread into the delete-aware
          // read so equality-delete matching sees logical values
          import org.apache.spark.sql.functions.col
          val m = plannedM.get
          val outCols = (schema.fieldNames.toIndexedSeq ++ fileCol.toSeq).map(col)
          fillGroupedBy(plannedDefaults, paths) { p =>
            val lf = plannedLive.getOrElse(p, sys.error(
              s"$table: $p is not in the planning snapshot's live set"))
            fillFieldsOf(table, m, plannedDefaults, m.fieldIds, lf)
              .map(_._1.name)
          } { (subset, fills) =>
            if (subset.isEmpty) None
            else Some(readPlain(spark, schema, subset, fileCol, fills)
              .select(outCols: _*)) // the fold preserves column order
          }.getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row],
              StructType(schema.fields ++
                fileCol.map(c => StructField(c, StringType)))))
      }
    }
    private def readPlain(spark: SparkSession, schema: StructType,
        paths: Seq[String], fileCol: Option[String],
        fills: Seq[(StructField, Any)] = Seq.empty): DataFrame = {
      import org.apache.spark.sql.functions.col
      if (plannedDeletes.isEmpty)
        return FencedScan(spark, schema)(
          super.readFiles(spark, schema, paths, fileCol))
      // carry the CALLER's path form in the meta column (DmlRewrite
      // keys its candidates by normalized absolute path)
      val lf = paths.map(p => plannedLive.getOrElse(p, sys.error(
        s"$table: $p is not in the planning snapshot's live set"))
        .copy(path = p))
      // only files a delete can bind to pay the anti-join; the clean
      // side keeps the plain whole-stage-codegen scan
      val (clean, dirty) = splitByDeletes(lf, plannedDeletes, schema, plannedIds)
      if (dirty.isEmpty)
        return FencedScan(spark, schema)(
          super.readFiles(spark, schema, paths, fileCol))
      val dirtyDf0 = readWithDeletes(spark, table, schema, Some(basePath),
        dirty, plannedDeletes, withMeta = fileCol.isDefined, ids = plannedIds,
        fills = fills)
      val dirtyDf = fileCol.map(c =>
        dirtyDf0.withColumnRenamed(posFileCol, c).drop(posPosCol))
        .getOrElse(dirtyDf0)
      if (clean.isEmpty) dirtyDf
      else {
        val cols = schema.fieldNames.map(col).toIndexedSeq
        val sel = fileCol.map(c => cols :+ col(c)).getOrElse(cols)
        FencedScan(spark, schema)(
          super.readFiles(spark, schema, clean.map(_.path), fileCol))
          .select(sel: _*).unionAll(dirtyDf.select(sel: _*))
      }
    }
    /** The lineage-armed candidate read (r16): each row comes back with
      * MATERIALIZED `_row_id`/`_last_updated_sequence_number` — the
      * file's own columns where present, else the spec's inheritance
      * (assignment base + the row's position in ITS OWN file / the
      * file's data sequence) through one broadcast per-FILE join.
      */
    private def readWithCarriedLineage(spark: SparkSession,
        schema: StructType, paths: Seq[String], fileCol: Option[String],
        lin: Map[String, (Option[Long], Long)]): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, coalesce, col, substring_index}
      import spark.implicits._
      val readSchema = StructType(schema.fields ++ lineageFields)
      val baseDf = broadcast(paths.map { p =>
        val (first, dseq) = lin(fileNameOf(p))
        (fileNameOf(p), first, Option(dseq))
      }.toDF(posNameCol, "__graft_first_row_id", "__graft_dseq"))
      val lf = paths.map(p => plannedLive.getOrElse(p, sys.error(
        s"$table: $p is not in the planning snapshot's live set"))
        .copy(path = p))
      val (clean, dirty) =
        if (plannedDeletes.isEmpty) (lf, Seq.empty[LiveFile])
        else splitByDeletes(lf, plannedDeletes, schema, plannedIds)
      val cleanDf =
        if (clean.isEmpty) None
        else Some(FencedScan(spark, readSchema) {
          super.readFiles(spark, readSchema, clean.map(_.path), fileCol)
            .withColumn(posNameCol,
              substring_index(col("_metadata.file_path"), "/", -1))
            .withColumn(posPosCol, col("_metadata.row_index"))
        })
      val dirtyDf =
        if (dirty.isEmpty) None
        else Some {
          val df0 = readWithDeletes(spark, table, readSchema, Some(basePath),
            dirty, plannedDeletes, withMeta = true, ids = lineageIdMap)
            .withColumn(posNameCol, substring_index(col(posFileCol), "/", -1))
          fileCol.map(c => df0.withColumnRenamed(posFileCol, c))
            .getOrElse(df0.drop(posFileCol))
        }
      val outCols = (schema.fieldNames.toIndexedSeq ++ fileCol.toSeq ++
        Seq("_row_id", "_last_updated_sequence_number")).map(col)
      (cleanDf ++ dirtyDf).map { df =>
        df.join(baseDf, posNameCol)
          .withColumn("_row_id", coalesce(col("_row_id"),
            col("__graft_first_row_id") + col(posPosCol)))
          .withColumn("_last_updated_sequence_number",
            coalesce(col("_last_updated_sequence_number"), col("__graft_dseq")))
          .select(outCols: _*)
      }.reduceOption(_ unionAll _).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(schema.fields ++
            fileCol.map(c => StructField(c, StringType)) ++ lineageFields)))
    }
    override def stampOutput(df: DataFrame, plan: DmlRewrite.Plan): DataFrame =
      withFieldIds(df,
        if (plannedLin.isDefined) lineageIdMap else plannedIds)
    def harvest(dest: Path, plan: DmlRewrite.Plan): (DataFileInfo, Long) = {
      // lineage-armed rewrites harvest the reserved-id columns too:
      // their presence in the manifest metrics is what future lineage
      // reads verify
      val (hSchema, hIds) =
        if (plannedLin.isDefined)
          (StructType(plan.schema.fields ++ lineageFields), lineageIdMap)
        else (plan.schema, plannedIds)
      val info = statFile(spark, table, dest, hSchema, hIds)
      (info, info.records)
    }
    def deletePlaced(a: DataFileInfo): Unit =
      Files.deleteIfExists(Paths.get(a.path))
    def commit(plan: DmlRewrite.Plan, added: Seq[DataFileInfo],
        touchedTokens: Seq[String], conflictPred: Option[String],
        changes: Option[DataFrame]): Option[Int] =
      commitSnapshot(spark, table, plan.schema, plan.partitionColumns,
        added, txn = None,
        operation = if (touchedTokens.isEmpty) "append" else "overwrite",
        replaced = touchedTokens.toSet,
        conflict = Some((plan.conflictBase, conflictPred)),
        baseDeletes = Some(plannedDeletes.map(_.path).toSet),
        fillAware = true)
  }

  /** Drop snapshots older than `olderThanMs` (always keeping the current
    * one) from the table metadata and DELETE the manifest lists,
    * manifests and data files only they referenced — Iceberg's
    * `expire_snapshots`, surfaced as the VACUUM verb. Every expired
    * snapshot's transaction high-water mark is parked in table
    * `properties` first, so exactly-once replay stays a no-op across
    * retention. Returns (expired snapshots, deleted files).
    */
  def expireSnapshots(spark: SparkSession, table: String,
      olderThanMs: Long): (Int, Int) = {
    val dir = metaDir(table)
    var attempt = 0
    while (attempt < 1000) {
      attempt += 1
      val m = current(table).getOrElse(sys.error(s"$table is not an Iceberg table"))
      require(!m.catalogManaged,
        s"$table uses catalog-managed metadata naming (${m.metaFileName}); " +
          "route maintenance through its catalog")
      val cutoff = System.currentTimeMillis() - olderThanMs
      // ref'd snapshots (tags, branch heads) are PINNED: expiring a
      // tag's snapshot would leave the ref dangling and silently break
      // its time travel (the spec gives refs their own retention)
      val pinned = m.refs.values.map(_._1).toSet + m.currentSnapshotId
      val (expired, retained) = m.snapshots.partition(s =>
        !pinned.contains(s.get("snapshot-id").asLong()) &&
          s.get("timestamp-ms").asLong() < cutoff)
      if (expired.isEmpty) return (0, 0)

      // park expired txn high-water marks in properties (replay guard)
      val expiredTxns = expired.flatMap { s =>
        val sum = s.get("summary")
        if (sum != null && sum.has("graft.txn.app"))
          Some(sum.get("graft.txn.app").asText() -> sum.get("graft.txn.version").asLong())
        else None
      }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val props = m.properties ++ expiredTxns.map { case (app, v) =>
        val k = s"graft.txn.$app"
        k -> math.max(v, m.properties.get(k).map(_.toLong).getOrElse(Long.MinValue)).toString
      }

      val root = m.node.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val snaps = mapper.createArrayNode()
      retained.foreach(snaps.add)
      root.set[com.fasterxml.jackson.databind.JsonNode]("snapshots", snaps)
      val keepIds = retained.map(_.get("snapshot-id").asLong()).toSet
      val slog = mapper.createArrayNode()
      val prevLog = m.node.get("snapshot-log")
      if (prevLog != null) (0 until prevLog.size()).map(prevLog.get)
        .filter(e => keepIds.contains(e.get("snapshot-id").asLong()))
        .foreach(slog.add)
      root.set[com.fasterxml.jackson.databind.JsonNode]("snapshot-log", slog)
      val propsNode = mapper.createObjectNode()
      props.foreach { case (k, v) => propsNode.put(k, v) }
      root.set[com.fasterxml.jackson.databind.JsonNode]("properties", propsNode)
      root.put("last-updated-ms", System.currentTimeMillis())

      val newVersion = m.version + 1
      val bytes = root.toString.getBytes("UTF-8")
      val tmp = dir.resolve(s".${UUID.randomUUID()}.tmp")
      Files.write(tmp, bytes)
      val target = dir.resolve(s"v$newVersion.metadata.json")
      val claimed =
        try {
          try { Files.createLink(target, tmp); true }
          catch { case _: UnsupportedOperationException =>
            // rename, no REPLACE_EXISTING: atomic put-if-absent, never torn
            Files.move(tmp, target); true }
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally Files.deleteIfExists(tmp)
      if (claimed) {
        Files.write(dir.resolve("version-hint.text"),
          newVersion.toString.getBytes("UTF-8"))
        // GC: delete what ONLY expired snapshots referenced — retained
        // references (incl. the current snapshot) always win; data files
        // are only touched under the table's own data/ dir
        def refsOf(ss: Seq[com.fasterxml.jackson.databind.JsonNode])
            : (Set[String], Set[String], Set[String]) = {
          val lists = ss.map(_.get("manifest-list").asText()).toSet
          // (path, partition-spec-id): the spec id picks each manifest's
          // entry wire shape (delete manifests ride the unpartitioned one)
          val manifests = lists.flatMap(l =>
            try readManifestList(l).map(r => (r.getString(0), r.getInt(2)))
            catch { case _: Exception => Seq.empty })
          val data = manifests.flatMap { case (mf, specId) =>
            if (!Files.exists(localPath(mf))) Seq.empty
            else readEntries(mf, partTypeOfSpec(m, specId))
              .map(_.getStruct(4).getString(1))
          }
          (lists, manifests.map(_._1), data)
        }
        val (keepLists, keepManifests, keepData) = refsOf(retained)
        val (expLists, expManifests, expData) = refsOf(expired)
        val dataRoot = Paths.get(table, "data").toAbsolutePath
        var deleted = 0
        (expLists -- keepLists).foreach { p => if (Files.deleteIfExists(localPath(p))) deleted += 1 }
        (expManifests -- keepManifests).foreach { p => if (Files.deleteIfExists(localPath(p))) deleted += 1 }
        (expData -- keepData).foreach { p =>
          val abs = localPath(p).toAbsolutePath
          if (abs.startsWith(dataRoot) && Files.deleteIfExists(abs)) deleted += 1
        }
        return (expired.size, deleted)
      }
    }
    sys.error(s"iceberg expire lost $attempt version races; giving up")
  }
}
