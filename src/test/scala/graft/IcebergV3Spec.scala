package graft

import graft.formats.AvroCodec
import graft.sinks.{DeletionVectors, IcebergLog}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg FORMAT-VERSION 3 read interop: deletion vectors in Puffin
  * files (the v3 replacement for position-delete parquet — what
  * iceberg-java 1.8+/Spark write by default on v3 tables), the
  * manifest fields that carry them (143 referenced_data_file /
  * 144 content_offset / 145 content_size_in_bytes), the changelog's
  * DV-supersede diff, and the gates: v3 tables are READ-ONLY here
  * (this engine writes v2), and v3 read features we don't implement
  * (schema initial-default) refuse loudly.
  *
  * Fixtures transform REAL merge-on-read tables this engine wrote:
  * each position-delete parquet is replaced by a puffin DV carrying
  * the same positions, the DELETES manifest is rewritten in the
  * foreign (name-resolved) v3 shape, and metadata.json is bumped to
  * format-version 3 — the layout a v3 writer leaves behind.
  */
class IcebergV3Spec extends SparkSpec {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def tmpTable(): String =
    Files.createTempDirectory("iceberg_v3").toString

  /** Puffin shell holding ONE deletion-vector-v1 blob for `positions`:
    * "PFA1", then [len BE][magic D1 D3 39 64][portable-64 roaring:
    * bucket count LE8 + key LE4 + portable roaring32][crc32 BE over
    * magic+vector]. Returns (path, blob offset, blob size).
    */
  private def writePuffin(dir: Path, positions: Seq[Long]): (Path, Long, Long) = {
    // all test positions sit in bucket 0; the portable roaring32 bytes
    // are the tail of the delta-format serialization (same 32-bit wire)
    val r32 = DeletionVectors.bitmapOf(positions.iterator).serialize().drop(12)
    val vec = ByteBuffer.allocate(12 + r32.length).order(ByteOrder.LITTLE_ENDIAN)
    vec.putLong(1L).putInt(0)
    vec.put(r32)
    val v = vec.array()
    val blob = ByteBuffer.allocate(4 + 4 + v.length + 4) // big-endian
    blob.putInt(4 + v.length)
    blob.put(Array(0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte))
    blob.put(v)
    val crc = new java.util.zip.CRC32
    crc.update(blob.array(), 4, 4 + v.length)
    blob.putInt(crc.getValue.toInt)
    val file = dir.resolve(s"dv-${java.util.UUID.randomUUID()}.puffin")
    val out = Files.newOutputStream(file)
    try {
      out.write("PFA1".getBytes("UTF-8"))
      out.write(blob.array())
      out.write("PFA1".getBytes("UTF-8")) // stand-in footer section
    } finally out.close()
    (file, 4L, blob.array().length.toLong)
  }

  /** The v3 delete-manifest entry shape a third-party writer emits for
    * a deletion vector (no bounds/metrics needed; DV fields present).
    */
  private val v3DeleteEntry = StructType(Seq(
    StructField("status", IntegerType, nullable = false),
    StructField("snapshot_id", LongType, nullable = true),
    StructField("sequence_number", LongType, nullable = true),
    StructField("file_sequence_number", LongType, nullable = true),
    StructField("data_file", StructType(Seq(
      StructField("content", IntegerType, nullable = false),
      StructField("file_path", StringType, nullable = false),
      StructField("file_format", StringType, nullable = false),
      StructField("partition", StructType(Seq.empty), nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("file_size_in_bytes", LongType, nullable = false),
      StructField("referenced_data_file", StringType, nullable = true),
      StructField("content_offset", LongType, nullable = true),
      StructField("content_size_in_bytes", LongType, nullable = true))),
      nullable = false)))

  /** Replace every position-delete parquet reachable from the CURRENT
    * snapshot with a puffin DV (optionally overriding the positions per
    * delete file — the supersede case), rewriting each DELETES manifest
    * foreign-shaped, then bump metadata.json to format-version 3.
    */
  private def toV3(table: String,
      positionsOverride: Map[Long, Seq[Long]] = Map.empty): Unit = {
    val m = IcebergLog.current(table).get
    val snap = m.snapshots.find(_.get("snapshot-id").asLong() == m.currentSnapshotId).get
    val partType = StructType(Seq.empty[StructField])
    IcebergLog.readManifestList(snap.get("manifest-list").asText())
      .filter(_.getInt(3) == 1).foreach { mf =>
      val mfPath = Paths.get(mf.getString(0))
      val addedSid = mf.getLong(6)
      val foreign = IcebergLog.readEntries(mfPath.toString, partType).map { e =>
        val df = e.getStruct(4)
        require(df.getInt(0) == 1, "fixture expects position deletes")
        val delParquet = df.getString(1)
        val rows = spark.read
          .schema(StructType(Seq(StructField("file_path", StringType),
            StructField("pos", LongType))))
          .parquet(delParquet).collect()
        val ref = rows.head.getString(0)
        val positions = positionsOverride.getOrElse(addedSid,
          rows.map(_.getLong(1)).toSeq)
        val (puffin, off, size) = writePuffin(mfPath.getParent, positions)
        Row(e.get(0), e.get(1), e.get(2), e.get(3),
          Row(1, puffin.toAbsolutePath.toString, "PUFFIN", Row(),
            positions.size.toLong, Files.size(puffin), ref, off, size))
      }
      val tmp = Files.createTempFile(mfPath.getParent, "v3dv", ".avro")
      val out = Files.newOutputStream(tmp)
      try AvroCodec.writeOcf(out, v3DeleteEntry, foreign.iterator)
      finally out.close()
      Files.move(tmp, mfPath, StandardCopyOption.REPLACE_EXISTING)
    }
    bumpTo3(table)
  }

  private def bumpTo3(table: String): Unit = {
    val dir = Paths.get(table, "metadata")
    val v = Files.list(dir).iterator().asScala
      .flatMap(_.getFileName.toString match {
        case s if s.startsWith("v") && s.endsWith(".metadata.json") =>
          Some(s.stripPrefix("v").stripSuffix(".metadata.json").toInt)
        case _ => None
      }).max
    val p = dir.resolve(s"v$v.metadata.json")
    val node = mapper.readTree(Files.readAllBytes(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("format-version", 3)
    Files.write(p, node.toString.getBytes("UTF-8"))
  }

  /** Reshape `table`'s latest metadata to the iceberg-java 1.8 form:
    * format-version 3 plus initial-default/write-default 7 on the
    * current schema's `bonus` field.
    */
  private def withBonusDefault7(table: String): Unit = {
    val dir = Paths.get(table, "metadata")
    val vf = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(s => s.startsWith("v") && s.endsWith(".metadata.json"))
      .map(s => s.stripPrefix("v").stripSuffix(".metadata.json").toInt).max
    val p = dir.resolve(s"v$vf.metadata.json")
    val node = mapper.readTree(Files.readAllBytes(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("format-version", 3)
    val curId = node.get("current-schema-id").asInt()
    val schemas = node.get("schemas")
    (0 until schemas.size()).map(schemas.get)
      .find(_.get("schema-id").asInt() == curId).get.get("fields")
      .forEach { f =>
        if (f.get("name").asText() == "bonus") {
          val o = f.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          o.put("initial-default", 7)
          o.put("write-default", 7)
          ()
        }
      }
    Files.write(p, node.toString.getBytes("UTF-8"))
  }

  /** 4 rows in ONE data file, merge-on-read deletes armed. */
  private def morTable(): String = {
    import spark.implicits._
    val table = tmpTable()
    IcebergLog.writeBatch(
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "v").coalesce(1),
      table)
    IcebergLog.setTableProperties(spark, table,
      Map("write.delete.mode" -> "merge-on-read"))
    table
  }

  test("v3 deletion vectors apply on read; manifests bind fields 143-145 by name") {
    import spark.implicits._
    val table = morTable()
    assert(IcebergLog.deleteWhere(spark, table, "id = 2 or id = 4").isDefined)
    toV3(table)
    val dels = IcebergLog.deleteFiles(table, None)
    assert(dels.size == 1 && dels.head.isDv &&
      dels.head.referencedDataFile.isDefined &&
      dels.head.contentOffset.contains(4L), s"got $dels")
    val got = IcebergLog.read(spark, table).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 3L -> 30L), s"got $got")
  }

  test("two DVs on one file (supersede layout) union on read; changelog diffs the bitmaps") {
    import spark.implicits._
    val table = morTable()
    // snapshot A (seq 2) deletes id=2 → pos {1}; snapshot B (seq 3)
    // deletes id=4 → its v3 DV SUPERSEDES A's, carrying {1, 3}
    assert(IcebergLog.deleteWhere(spark, table, "id = 2").isDefined)
    val sidA = IcebergLog.current(table).get.currentSnapshotId
    assert(IcebergLog.deleteWhere(spark, table, "id = 4").isDefined)
    val sidB = IcebergLog.current(table).get.currentSnapshotId
    toV3(table, positionsOverride = Map(sidA -> Seq(1L), sidB -> Seq(1L, 3L)))
    val got = IcebergLog.read(spark, table).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 3L -> 30L), s"got $got")
    // per-snapshot changelog: A retracts id=2; B retracts ONLY id=4 —
    // the supersede diff (B's bitmap minus A's), not B's whole bitmap
    val chA = IcebergLog.readChanges(spark, table, 2L, Some(2L))
      .select("id", Cdf_changeType).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(chA == Set((2L, "delete")), s"got $chA")
    val chB = IcebergLog.readChanges(spark, table, 3L, Some(3L))
      .select("id", Cdf_changeType).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(chB == Set((4L, "delete")), s"got $chB")
  }

  private val Cdf_changeType = graft.sinks.Cdf.changeTypeCol

  test("v3 tables take writes (r14); time travel still reads prior snapshots") {
    import spark.implicits._
    val table = morTable()
    assert(IcebergLog.deleteWhere(spark, table, "id = 2").isDefined)
    toV3(table)
    // a foreign-shaped v3 table (puffin DVs, foreign manifests) takes
    // appends; the new metadata stays format-version 3
    assert(IcebergLog.writeBatch(Seq((9L, 90L)).toDF("id", "v"), table).isDefined)
    val m = IcebergLog.current(table).get
    assert(m.formatVersion == 3)
    val got = IcebergLog.read(spark, table).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 3L -> 30L, 4L -> 40L, 9L -> 90L), s"got $got")
    // pre-delete snapshot still readable (snapshot_id time travel)
    val first = m.snapshots.minBy(_.get("sequence-number").asLong())
      .get("snapshot-id").asLong()
    val old = IcebergLog.read(spark, table, snapshotId = Some(first))
      .as[(Long, Long)].collect().toMap
    assert(old == Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L), s"got $old")
  }

  test("v3 WRITE mode: format-version upgrade lands position deletes as puffin DVs") {
    import spark.implicits._
    val table = morTable()
    // the public upgrade shape (TableProperties FORMAT_VERSION)
    IcebergLog.setTableProperties(spark, table, Map("format-version" -> "3"))
    val m0 = IcebergLog.current(table).get
    assert(m0.formatVersion == 3 && m0.nextRowId == 0L)
    // downgrades refuse
    val eDown = intercept[IllegalArgumentException] {
      IcebergLog.setTableProperties(spark, table, Map("format-version" -> "2"))
    }
    assert(eDown.getMessage.contains("downgrade"), eDown.getMessage)
    // a MoR delete now lands a puffin DELETION VECTOR, not a parquet
    assert(IcebergLog.deleteWhere(spark, table, "id = 2 or id = 4").isDefined)
    val dels = IcebergLog.deleteFiles(table, None)
    assert(dels.size == 1 && dels.head.isDv, s"got $dels")
    assert(dels.head.path.endsWith(".puffin"), dels.head.path)
    assert(dels.head.records == 2L)
    // …with a SPEC-COMPLIANT footer a conformant reader can open
    val meta = graft.formats.Puffin.readFileMetadata(
      java.nio.file.Paths.get(dels.head.path))
    val blob = meta.get("blobs").get(0)
    assert(blob.get("type").asText == "deletion-vector-v1")
    assert(blob.get("properties").get("cardinality").asText == "2")
    assert((blob.get("offset").asLong, blob.get("length").asLong) ==
      (dels.head.contentOffset.get, dels.head.contentSize.get))
    val got = IcebergLog.read(spark, table).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 3L -> 30L), s"got $got")
    // appends advance the v3 row-lineage counter
    assert(IcebergLog.writeBatch(
      Seq((9L, 90L), (10L, 100L)).toDF("id", "v"), table).isDefined)
    val m1 = IcebergLog.current(table).get
    assert(m1.nextRowId == 2L, s"got ${m1.nextRowId}")
    val snap = m1.snapshots.maxBy(_.get("sequence-number").asLong())
    assert(snap.get("first-row-id").asLong() == 0L)
  }

  test("v3 WRITE: a second DV on the same file SUPERSEDES (unions) the first") {
    import spark.implicits._
    val table = morTable()
    IcebergLog.setTableProperties(spark, table, Map("format-version" -> "3"))
    assert(IcebergLog.deleteWhere(spark, table, "id = 2").isDefined)
    assert(IcebergLog.deleteWhere(spark, table, "id = 4").isDefined)
    // exactly ONE DV per data file across every carried delete manifest
    // (the spec's invariant) — the new one, carrying the union
    val dels = IcebergLog.deleteFiles(table, None)
    assert(dels.size == 1 && dels.head.isDv, s"got $dels")
    assert(dels.head.records == 2L, s"got ${dels.head.records}")
    val got = IcebergLog.read(spark, table).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 3L -> 30L), s"got $got")
    // per-snapshot changelog: the supersede DIFF, not the whole bitmap
    val last = IcebergLog.current(table).get.lastSeq
    val chB = IcebergLog.readChanges(spark, table, last, Some(last))
      .select("id", Cdf_changeType).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(chB == Set((4L, "delete")), s"got $chB")
  }

  test("v3 WRITE on a PARTITIONED table: DVs ride the unpartitioned spec; supersede confined") {
    import spark.implicits._
    val table = tmpTable()
    IcebergLog.writeBatch(
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"), (4L, 40L, "b"))
        .toDF("id", "v", "p").repartition(2),
      table, partitionBy = Seq("p"))
    IcebergLog.setTableProperties(spark, table, Map(
      "format-version" -> "3", "write.delete.mode" -> "merge-on-read"))
    assert(IcebergLog.deleteWhere(spark, table, "id = 1").isDefined)
    assert(IcebergLog.deleteWhere(spark, table, "id = 4").isDefined)
    val dels = IcebergLog.deleteFiles(table, None)
    assert(dels.forall(_.isDv), s"got $dels")
    // one DV per touched data file (a's file and b's file), each under
    // the UNPARTITIONED spec (path-targeted, like global pos deletes)
    assert(dels.size == 2, s"got ${dels.map(d => (d.path, d.referencedDataFile))}")
    assert(dels.flatMap(_.referencedDataFile).distinct.size == 2)
    val got = IcebergLog.read(spark, table)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 20L, 3L -> 30L), s"got $got")
    // a second delete hitting partition a's file supersedes ONLY that DV
    assert(IcebergLog.deleteWhere(spark, table, "id = 2").isDefined)
    val dels2 = IcebergLog.deleteFiles(table, None)
    assert(dels2.size == 2, s"got ${dels2.map(_.records)}")
    assert(dels2.map(_.records).sorted == Seq(1L, 2L), s"got ${dels2.map(_.records)}")
    val got2 = IcebergLog.read(spark, table)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(got2 == Map(3L -> 30L), s"got $got2")
  }

  test("v3 WRITE: prior v2 position-delete parquet rows fold into the new DV") {
    import spark.implicits._
    val table = morTable()
    // v2 history: a parquet position delete for id=2
    assert(IcebergLog.deleteWhere(spark, table, "id = 2").isDefined)
    assert(IcebergLog.deleteFiles(table, None).forall(!_.isDv))
    IcebergLog.setTableProperties(spark, table, Map("format-version" -> "3"))
    // v3 delete on the same file: the DV must carry BOTH positions (the
    // old parquet entry stays — harmless idempotent double-retraction)
    assert(IcebergLog.deleteWhere(spark, table, "id = 4").isDefined)
    val dels = IcebergLog.deleteFiles(table, None)
    val dv = dels.filter(_.isDv)
    assert(dv.size == 1 && dv.head.records == 2L, s"got $dels")
    val got = IcebergLog.read(spark, table).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 3L -> 30L), s"got $got")
    // OPTIMIZE purges DVs and parquet deletes alike into clean rewrites
    assert(IcebergLog.rewriteDataFiles(spark, table,
      smallBytes = Some(1024 * 1024)).isDefined)
    assert(IcebergLog.deleteFiles(table, None).isEmpty)
    val got2 = IcebergLog.read(spark, table).as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 10L, 3L -> 30L), s"got $got2")
  }

  test("framing violations and unimplemented v3 features refuse loudly") {
    import spark.implicits._
    val table = morTable()
    assert(IcebergLog.deleteWhere(spark, table, "id = 2").isDefined)
    toV3(table)
    // corrupt the DV's crc: read must fail, never silently misapply
    val dv = IcebergLog.deleteFiles(table, None).head
    val puffin = Paths.get(dv.path)
    val bytes = Files.readAllBytes(puffin)
    bytes(12) = (bytes(12) ^ 0x7f).toByte // inside the vector
    Files.write(puffin, bytes)
    val e1 = intercept[Exception] { IcebergLog.read(spark, table).count() }
    assert(e1.getMessage.contains("crc") || e1.getMessage.contains("roaring"),
      e1.getMessage)
    // schema initial-default on a field whose files CONTAIN it (metrics
    // prove presence): reads keep the file's own values — the default
    // never overrides written data (r15; pre-r15 this refused at open)
    val t2 = tmpTable()
    IcebergLog.writeBatch(Seq((1L, 10L)).toDF("id", "v"), t2)
    val dir = Paths.get(t2, "metadata")
    val vf = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(s => s.startsWith("v") && s.endsWith(".metadata.json"))
      .map(s => s.stripPrefix("v").stripSuffix(".metadata.json").toInt).max
    val p = dir.resolve(s"v$vf.metadata.json")
    val node = mapper.readTree(Files.readAllBytes(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("format-version", 3)
    node.get("schemas").get(0).get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("initial-default", 7)
    Files.write(p, node.toString.getBytes("UTF-8"))
    assert(IcebergLog.read(spark, t2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 10L)))
  }

  test("v3 initial-default: pre-field files fill; post-field values (incl. null) keep; DML/OPTIMIZE/changelog compose") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val table = tmpTable()
    // file 1 under schema 0 (no bonus), then evolve, then file 2 WITH
    // bonus — including an explicit null that must STAY null
    IcebergLog.writeBatch(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1), table)
    assert(IcebergLog.addColumns(spark, table, Seq("bonus" -> LongType)).isDefined)
    IcebergLog.writeBatch(
      Seq((3L, 30L, Some(300L)), (4L, 40L, None: Option[Long]))
        .toDF("id", "v", "bonus").coalesce(1), table)
    // → the iceberg-java 1.8 shape: v3 + initial-default/write-default
    // on the added field of the CURRENT schema entry
    withBonusDefault7(table)
    // pre-field rows fill 7; post-field rows keep 300 and NULL
    val got = IcebergLog.read(spark, table).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 7L), (2L, 7L), (3L, 300L), (4L, -1L)), got)
    // scan_filter composes AFTER the fill
    assert(IcebergLog.read(spark, table, scanFilter = Some("bonus = 7"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // plain EXACT-SCHEMA appends are safe: the schema entry carries
    // forward verbatim (defaults survive) and every column is written
    assert(IcebergLog.writeBatch(
      Seq((9L, 90L, Some(9L))).toDF("id", "v", "bonus").coalesce(1), table)
      .isDefined)
    val got2 = IcebergLog.read(spark, table).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got2 == Seq((1L, 7L), (2L, 7L), (3L, 300L), (4L, -1L), (9L, 9L)),
      got2)
    // the default attributes SURVIVED the append commit
    assert(IcebergLog.initialDefaultFields(IcebergLog.current(table).get)
      .map(_._1.name) == Seq("bonus"))
    // schema EVOLUTION goes through (r16): carried fields copy their
    // schema-entry nodes verbatim, so the default attributes survive
    // ADD COLUMNS...
    assert(IcebergLog.addColumns(spark, table,
      Seq("more" -> org.apache.spark.sql.types.LongType)).isDefined)
    assert(IcebergLog.initialDefaultFields(IcebergLog.current(table).get)
      .map(_._1.name) == Seq("bonus"))
    // ...a mergeSchema data append under the evolved shape...
    assert(IcebergLog.writeBatch(
      Seq((11L, 110L, Some(11L), Some(1L))).toDF("id", "v", "bonus", "more")
        .coalesce(1), table, mergeSchema = true).isDefined)
    // ...and RENAME of the default column itself (same id, new name)
    assert(IcebergLog.renameColumn(spark, table, "bonus", "boon").isDefined)
    assert(IcebergLog.initialDefaultFields(IcebergLog.current(table).get)
      .map(_._1.name) == Seq("boon"))
    // pre-field rows STILL fill through the whole evolved history
    val got3 = IcebergLog.read(spark, table).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got3 == Seq((1L, 7L), (2L, 7L), (3L, 300L), (4L, -1L),
      (9L, 9L), (11L, 11L)), got3)
    // (an append OMITTING the default column engages WRITE-DEFAULT
    // semantics — exercised at the end of this test, r17)
    // DML goes through too (r16): candidate reads FILL per file, so
    // postimages materialize the default — which IS the row's value.
    // An UPDATE whose predicate reads the default column must match
    // pre-field rows on their filled value...
    assert(IcebergLog.updateWhere(spark, table,
      Seq("v" -> "v + 1000"), Some("boon = 7")).isDefined)
    val afterUpd = IcebergLog.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(afterUpd == Seq((1L, 1010L), (2L, 1020L), (3L, 30L), (4L, 40L),
      (9L, 90L), (11L, 110L)), afterUpd)
    // ...and the rewritten file MATERIALIZED the default: the column
    // now proves present in its metrics, values intact
    val afterBoon = IcebergLog.read(spark, table).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(afterBoon == Seq((1L, 7L), (2L, 7L), (3L, 300L), (4L, -1L),
      (9L, 9L), (11L, 11L)), afterBoon)
    // a DELETE keyed on the default value, then OPTIMIZE — both fill
    assert(IcebergLog.deleteWhere(spark, table, "id = 1").isDefined)
    assert(IcebergLog.rewriteDataFiles(spark, table,
      smallBytes = Some(Long.MaxValue)).isDefined)
    val afterAll = IcebergLog.read(spark, table).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(afterAll == Seq((2L, 7L), (3L, 300L), (4L, -1L),
      (9L, 9L), (11L, 11L)), afterAll)
    // WRITE-DEFAULT on appends (r17): a batch omitting the column gets
    // the spec's write-default MATERIALIZED into the file bytes. Value
    // 7 (non-null) for id=12 proves materialization: were the column
    // physically absent, fillFieldsOf would refuse the read outright
    // (the adding snapshot's schema declares the field), and a null
    // write would read -1 here
    assert(IcebergLog.writeBatch(Seq((12L, 120L)).toDF("id", "v"), table,
      mergeSchema = true).isDefined)
    val afterOmit = IcebergLog.read(spark, table).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(afterOmit == Seq((2L, 7L), (3L, 300L), (4L, -1L),
      (9L, 9L), (11L, 11L), (12L, 7L)), afterOmit)
    // CHANGELOG fills too (r17, refusal lifted): replaying sequence 1
    // (the pre-field file) emits its rows with boon FILLED, not null
    val chg = IcebergLog.readChanges(spark, table, 1L, Some(1L)).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getString(r.fieldIndex(graft.sinks.Cdf.changeTypeCol))))
    assert(chg.toSet == Set((1L, 7L, "insert"), (2L, 7L, "insert")),
      chg.mkString(","))
    // a MERGE INSERT leaving the default column UNSPECIFIED writes the
    // write-default too (r17) — the spec's INSERT rule; columns with no
    // default stay null
    assert(IcebergLog.merge(spark, table, Seq((20L, 200L)).toDF("id", "v"),
      graft.sinks.Merge.Clauses("t", "s", "t.id = s.id",
        Seq(graft.sinks.Merge.MatchedClause(None, Left(Seq("v" -> "s.v")))),
        Some((None, Seq("id" -> "s.id", "v" -> "s.v"))))).isDefined)
    val m20 = IcebergLog.read(spark, table)
      .filter(org.apache.spark.sql.functions.col("id") === 20L).head()
    assert(m20.getLong(2) == 7L, m20) // boon = write-default, in the bytes
    assert(m20.isNullAt(3), m20)      // more: no default → null
  }

  test("writeBatch commits no 0-record data file from empty partitions; initial-default reads stay provable") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    val table = tmpTable()
    // 4 scan partitions with every row of partition 0 filtered out:
    // Spark still writes task 0's file, with no rows and no metrics
    def batch(from: Long) = spark.range(from, from + 40, 1, 4)
      .filter(col("id") >= from + 20).select(col("id"), (col("id") * 10).as("v"))
    IcebergLog.writeBatch(batch(0), table)
    assert(IcebergLog.addColumns(spark, table, Seq("bonus" -> LongType)).isDefined)
    IcebergLog.writeBatch(batch(100).withColumn("bonus", col("id") * 2), table)
    val entries = IcebergLog.entries(table)
    assert(entries.nonEmpty && entries.forall(_._3 > 0), entries)
    withBonusDefault7(table)
    val got = IcebergLog.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == (20L until 40L).map(_ -> 7L) ++ (120L until 140L).map(i => i -> i * 2),
      got)
    // an all-empty batch still commits its one schema-carrying file
    val before = IcebergLog.entries(table).size
    assert(IcebergLog.writeBatch(batch(200).filter(col("id") < 0)
      .withColumn("bonus", col("id")), table).isDefined)
    assert(IcebergLog.entries(table).size == before + 1)
    assert(IcebergLog.entries(table).count(_._3 == 0) == 1)
  }

  test("v3 initial-default: streaming view materializes the FILLED shape — snapshot + per-commit adds (r17)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.LongType
    val table = tmpTable()
    IcebergLog.writeBatch(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1), table)
    assert(IcebergLog.addColumns(spark, table, Seq("bonus" -> LongType)).isDefined)
    IcebergLog.writeBatch(
      Seq((3L, 30L, Some(300L)), (4L, 40L, None: Option[Long]))
        .toDF("id", "v", "bonus").coalesce(1), table)
    // → iceberg-java 1.8 shape: v3 + initial-default/write-default
    withBonusDefault7(table)
    // the r16 refusal is lifted: the view materializes the snapshot in
    // FILLED shape (the pre-field file's rows carry 7, never null)
    val (sdf, view) = graft.sources.IcebergStreamSource.open(spark, table)
    val q = sdf.writeStream.format("memory").queryName("idefstream")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      def got() = spark.table("idefstream").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got() == Seq((1L, 7L), (2L, 7L), (3L, 300L), (4L, -1L)), got())
      // per-commit add whose batch OMITS the column: write-default
      // lands in the bytes and the stream emits the filled row
      def dataNames(root: java.nio.file.Path): Set[String] = {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(_.getFileName.toString).toSet
        finally s.close()
      }
      val beforeAdd = dataNames(Paths.get(table, "data"))
      assert(IcebergLog.writeBatch(Seq((5L, 50L)).toDF("id", "v").coalesce(1),
        table, mergeSchema = true).isDefined)
      view.sync()
      q.processAllAvailable()
      assert(got() == Seq((1L, 7L), (2L, 7L), (3L, 300L), (4L, -1L),
        (5L, 7L)), got())
      // steady-state ZERO COPY (r17): the add postdates the default
      // field (its write-default landed in the bytes), so the view
      // RAW-LINKED it under its own name instead of materializing
      val newNames = dataNames(Paths.get(table, "data")) -- beforeAdd
      assert(newNames.nonEmpty)
      assert(newNames.subsetOf(dataNames(view.dir.resolve("data"))),
        s"fill-free add was materialized, not linked: $newNames")
    } finally { q.stop(); view.close() }
  }

  test("v3 row_lineage stream surfaces _row_id/_last_updated_sequence_number: snapshot + per-commit adds match the batch read (r17)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val table = tmpTable()
    IcebergLog.writeBatch(Seq((100L, "pre")).toDF("id", "v").coalesce(1), table)
    IcebergLog.setTableProperties(spark, table, Map("format-version" -> "3"))
    IcebergLog.writeBatch(
      Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v").coalesce(1), table)
    // CoW UPDATE: matched row keeps its id, bumps its sequence (r16);
    // the stream snapshot must carry the PRESERVED identity
    assert(IcebergLog.updateWhere(spark, table,
      Seq("v" -> "'m'"), Some("id = 1")).isDefined)
    def batchLin(): Map[Long, (Option[Long], Option[Long])] =
      IcebergLog.readWithLineage(spark, table).collect().map(r =>
        r.getLong(0) -> ((if (r.isNullAt(2)) None else Some(r.getLong(2))),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val expect = batchLin()
    assert(expect(100L)._1.isEmpty, expect) // pre-v3 rows: untracked
    assert(expect(1L)._1.isDefined, expect)
    val (sdf, view) = graft.sources.IcebergStreamSource.open(spark, table,
      rowLineage = true)
    assert(sdf.schema.fieldNames.toSeq ==
      Seq("id", "v", "_row_id", "_last_updated_sequence_number"))
    val q = sdf.writeStream.format("memory").queryName("ilinstream")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    def got(): Map[Long, (Option[Long], Option[Long])] =
      spark.table("ilinstream").collect().map(r =>
        r.getLong(0) -> ((if (r.isNullAt(2)) None else Some(r.getLong(2))),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    try {
      q.processAllAvailable()
      assert(got() == expect, s"stream ${got()} != batch $expect")
      // per-commit add claims fresh ids per the spec assignment —
      // stream and batch agree on the new rows too
      IcebergLog.writeBatch(
        Seq((5L, "z"), (6L, "w")).toDF("id", "v").coalesce(1), table)
      view.sync()
      q.processAllAvailable()
      val after = batchLin()
      assert(after(5L)._1.isDefined && after(6L)._1.isDefined, after)
      assert(got() == after, s"stream ${got()} != batch $after")
      // catch-up past a rewrite (r17 review fix): an append whose file
      // OPTIMIZE already compacted away before the sync still
      // materializes with its historic assignment (the bytes stay until
      // expire_snapshots GC; lineage resolves from history, not the
      // live set)
      IcebergLog.writeBatch(Seq((7L, "q")).toDF("id", "v").coalesce(1), table)
      assert(IcebergLog.rewriteDataFiles(spark, table,
        smallBytes = Some(Long.MaxValue)).isDefined)
      view.sync() // processes the append (file rewritten) THEN the replace
      q.processAllAvailable()
      val after2 = batchLin()
      assert(got()(7L) == after2(7L), s"stream ${got()} != batch $after2")
    } finally { q.stop(); view.close() }
  }

  test("row_lineage stream on an EMPTY table opens; the first append delivers (r17 review fix)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val table = tmpTable()
    IcebergLog.writeBatch(Seq((1L, "a")).toDF("id", "v").coalesce(1), table)
    IcebergLog.setTableProperties(spark, table, Map("format-version" -> "3"))
    assert(IcebergLog.deleteWhere(spark, table, "id = 1").isDefined)
    val (sdf, view) = graft.sources.IcebergStreamSource.open(spark, table,
      rowLineage = true)
    val q = sdf.writeStream.format("memory").queryName("ilinempty")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("ilinempty").count() == 0)
      IcebergLog.writeBatch(Seq((2L, "b")).toDF("id", "v").coalesce(1), table)
      view.sync()
      q.processAllAvailable()
      val r = spark.table("ilinempty").collect()
      assert(r.length == 1 && r.head.getLong(0) == 2L && !r.head.isNullAt(2),
        r.mkString(","))
    } finally { q.stop(); view.close() }
  }

  test("equality deletes keyed on a default column retract pre-field rows by their LOGICAL (filled) value (r17 review fix)") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val table = tmpTable()
    IcebergLog.writeBatch(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1), table) // pre-field
    assert(IcebergLog.addColumns(spark, table, Seq("bonus" -> LongType)).isDefined)
    IcebergLog.writeBatch(
      Seq((3L, 30L, 300L), (4L, 40L, 7L)).toDF("id", "v", "bonus")
        .coalesce(1), table)
    IcebergLog.setTableProperties(spark, table,
      Map("write.upsert.enabled" -> "true"))
    // → v3 + initial-default/write-default 7 on bonus
    withBonusDefault7(table)
    // equality upsert keyed on BONUS with the default value: the delete
    // must retract ids 1,2 (their LOGICAL bonus is the fill 7 — the raw
    // bytes have no column at all) and id 4 (explicit 7); id 3 survives
    IcebergLog.upsertAppend(spark, table,
      Seq((99L, 990L, 7L, false)).toDF("id", "v", "bonus", "__graft_deleted"),
      Seq("bonus"), checkUnique = true)
    val got = IcebergLog.read(spark, table).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(3L, 99L), got)
    // the changelog emits the same retractions with FILLED preimages
    val seq = IcebergLog.current(table).get.lastSeq
    val chg = IcebergLog.readChanges(spark, table, seq, Some(seq)).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getString(r.fieldIndex(graft.sinks.Cdf.changeTypeCol)))).toSet
    assert(chg == Set((1L, 7L, "delete"), (2L, 7L, "delete"),
      (4L, 7L, "delete"), (99L, 7L, "insert")), chg)
  }

  test("v3 row lineage: spec assignment on appends, DV survivors keep ids, rewrites refuse") {
    import spark.implicits._
    val table = tmpTable()
    // pre-v3 file: its snapshot has no first-row-id — ids are NULL
    IcebergLog.writeBatch(Seq((100L, "pre")).toDF("id", "v").coalesce(1), table)
    IcebergLog.setTableProperties(spark, table, Map("format-version" -> "3",
      "write.delete.mode" -> "merge-on-read"))
    // post-upgrade appends claim ranges from each snapshot's first-row-id
    IcebergLog.writeBatch(
      Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v").coalesce(1), table)
    IcebergLog.writeBatch(
      Seq((3L, "d"), (4L, "e")).toDF("id", "v").coalesce(1), table)
    def lineage(): Map[Long, (Option[Long], Long)] =
      IcebergLog.readWithLineage(spark, table).collect().map { r =>
        r.getLong(0) -> (
          (if (r.isNullAt(2)) None else Some(r.getLong(2))),
          r.getLong(3))
      }.toMap
    val l1 = lineage()
    assert(l1(100L)._1.isEmpty, l1) // pre-v3 rows: null _row_id
    // file2 rows: ids 0..2 (first post-upgrade range); file3: 3..4
    assert(l1(0L)._1.contains(0L) && l1(1L)._1.contains(1L) &&
      l1(2L)._1.contains(2L), l1)
    assert(l1(3L)._1.contains(3L) && l1(4L)._1.contains(4L), l1)
    // _last_updated_sequence_number = each file's data sequence number
    assert(l1(0L)._2 < l1(3L)._2, l1)
    // a merge-on-read DELETE (puffin DV): survivors KEEP their ids —
    // positions are stable under DVs
    assert(IcebergLog.deleteWhere(spark, table, "id = 1").isDefined)
    val l2 = lineage()
    assert(!l2.contains(1L) && l2(0L)._1.contains(0L) &&
      l2(2L)._1.contains(2L), l2)
    // OPTIMIZE MATERIALIZES lineage into the rewritten files (the
    // spec's rewrite rule): every TRACKED id — including the DV'd gap —
    // survives compaction byte-identically; the pre-v3 row's untracked
    // (null) id gets LAZILY ASSIGNED from the rewritten file's range
    // (r16 — the spec's inheritance rule for null ids in v3-written
    // files), while its _last_updated_sequence_number stays truthful
    assert(IcebergLog.rewriteDataFiles(spark, table).isDefined)
    val l3 = lineage()
    assert((l3 - 100L) == (l2 - 100L), s"compaction changed lineage: $l2 -> $l3")
    assert(l3(100L)._1.isDefined, l3) // lazily assigned on first rewrite
    assert(l3(100L)._1.get >= 5L, l3) // ...from a fresh range, no collision
    assert(l3(100L)._2 == l2(100L)._2, l3) // sequence untouched by replace
    val l2b = l3 // the materialized state later steps compare against
    // a CoW UPDATE preserves lineage (r16): the rewrite materializes
    // carried rows' ids; the UPDATED row keeps its _row_id and BUMPS
    // _last_updated_sequence_number to the committing snapshot's
    // sequence (null-materialized → inherits the file's data sequence)
    IcebergLog.setTableProperties(spark, table,
      Map("write.update.mode" -> "copy-on-write"))
    assert(IcebergLog.updateWhere(spark, table,
      Seq("v" -> "'z'"), Some("id = 3")).isDefined)
    val l4 = lineage()
    assert(l4(3L)._1.contains(3L), l4) // updated row KEEPS its id
    assert(l4(3L)._2 > l2b(3L)._2, l4) // ...and bumps its sequence
    // carried rows in the same rewritten file keep BOTH
    assert(l4(4L) == l2b(4L), l4)
    // untouched files unchanged (incl. the pre-v3 null and the DV gap)
    assert(l4(100L) == l2b(100L) && l4(0L) == l2b(0L) && !l4.contains(1L), l4)
    assert(IcebergLog.read(spark, table).count() == 5)
    // a CoW DELETE preserves the survivors' lineage the same way
    assert(IcebergLog.setTableProperties(spark, table,
      Map("write.delete.mode" -> "copy-on-write")) > 0)
    assert(IcebergLog.deleteWhere(spark, table, "id = 4").isDefined)
    val l5 = lineage()
    assert(!l5.contains(4L), l5)
    assert(l5(3L) == l4(3L) && l5(0L) == l4(0L) &&
      l5(100L) == l4(100L), l5) // survivors keep id AND sequence

    // merge-on-read UPDATE (DV retraction + postimage append): the
    // postimage file materializes the kept _row_id with a bumped
    // sequence; unmatched rows stay put under their DV'd file
    IcebergLog.setTableProperties(spark, table,
      Map("write.update.mode" -> "merge-on-read"))
    assert(IcebergLog.updateWhere(spark, table,
      Seq("v" -> "'m'"), Some("id = 0")).isDefined)
    val l6 = lineage()
    assert(l6(0L)._1.contains(0L), l6) // postimage KEEPS the id
    assert(l6(0L)._2 > l5(0L)._2, l6) // ...bumps the sequence
    assert(l6(2L) == l5(2L) && l6(3L) == l5(3L) &&
      l6(100L) == l5(100L), l6) // everything else unchanged
    assert(IcebergLog.read(spark, table)
      .filter(org.apache.spark.sql.functions.col("id") === 0L)
      .head().getString(1) == "m")

    // MERGE preserves lineage too (r16): matched updates keep their id
    // and bump; inserts mint via the appended file's assignment base
    IcebergLog.setTableProperties(spark, table,
      Map("write.merge.mode" -> "copy-on-write"))
    val src = Seq((2L, "merged"), (50L, "new")).toDF("id", "v")
    assert(IcebergLog.merge(spark, table, src, graft.sinks.Merge.Clauses(
      cond = "t.id = s.id", targetAlias = "t", sourceAlias = "s",
      matched = Seq(graft.sinks.Merge.MatchedClause(None,
        Left(Seq("v" -> "s.v")))),
      notMatchedInsert = Some((None, Seq.empty)))).isDefined)
    val l7 = lineage()
    assert(l7(2L)._1 == l6(2L)._1, l7) // updated row KEEPS its id
    assert(l7(2L)._2 > l6(2L)._2, l7) // ...bumps its sequence
    assert(l7(50L)._1.isDefined, l7) // insert MINTS a fresh id
    assert(!l6.values.flatMap(_._1).toSet.contains(l7(50L)._1.get), l7)
    assert(l7(0L) == l6(0L) && l7(3L) == l6(3L) &&
      l7(100L) == l6(100L), l7) // untouched rows unchanged
    // ...and the merge-on-read MERGE (row delta) twin
    IcebergLog.setTableProperties(spark, table,
      Map("write.merge.mode" -> "merge-on-read"))
    val src2 = Seq((3L, "mor-merged")).toDF("id", "v")
    assert(IcebergLog.merge(spark, table, src2, graft.sinks.Merge.Clauses(
      cond = "t.id = s.id", targetAlias = "t", sourceAlias = "s",
      matched = Seq(graft.sinks.Merge.MatchedClause(None,
        Left(Seq("v" -> "s.v")))),
      notMatchedInsert = None)).isDefined)
    val l8 = lineage()
    assert(l8(3L)._1 == l7(3L)._1, l8) // MoR postimage keeps the id
    assert(l8(3L)._2 > l7(3L)._2, l8) // ...bumps the sequence
    assert(l8(2L) == l7(2L) && l8(50L) == l7(50L), l8)

    // EXPIRED adding snapshots make row-id ranges unrecoverable — the
    // lineage read must refuse a partial answer, never drop rows
    val t2 = tmpTable()
    IcebergLog.writeBatch(Seq((1L, "a")).toDF("id", "v").coalesce(1), t2)
    IcebergLog.setTableProperties(spark, t2, Map("format-version" -> "3"))
    IcebergLog.writeBatch(Seq((2L, "b")).toDF("id", "v").coalesce(1), t2)
    IcebergLog.writeBatch(Seq((3L, "c")).toDF("id", "v").coalesce(1), t2)
    IcebergLog.expireSnapshots(spark, t2, olderThanMs = -1000L)
    val e2 = intercept[IllegalArgumentException] {
      IcebergLog.readWithLineage(spark, t2).collect() }
    assert(e2.getMessage.contains("expired"), e2.getMessage)
    assert(IcebergLog.read(spark, t2).count() == 3) // plain read untouched
  }
}
