package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.operators.{Bundler, CopyInjector, CsvSerializer, EntityVersioner, PoiStableHash, VidAssigner}
import graft.sources.{GraphCsvReader, GraphqlSchema}
import graft.sources.GraphqlSchema.{EntityDesc, FieldType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Decoding of the generated payload files: the `sources` layer. */
object Decode {
  /** (entity, id, block_num, op, fm): one row per decoded change, its
    * fields as a name → (scalar text, array element texts) map. */
  def changes(spark: SparkSession, payloadDir: String): DataFrame =
    fromPayloads(spark.read.parquet(payloadDir))

  /** [[changes]] over a (block_num, payload) frame, batch or stream. */
  def fromPayloads(payloads: DataFrame): DataFrame =
    payloads
      .select(col("block_num"),
        explode(call_function("graft_entity_changes", col("payload"))).as("c"))
      .select(col("c.entity").as("entity"), col("c.id").as("id"), col("block_num"),
        when(col("c.op") === "OPERATION_CREATE", "CREATE")
          .when(col("c.op") === "OPERATION_DELETE", "DELETE")
          .otherwise("UPDATE").as("op"),
        map_from_entries(transform(col("c.fields"), f => struct(f("name"),
          struct(f("value").as("v"), transform(f("arr"), e => e("value")).as("a"))))).as("fm"))

  /** One entity type's changes with its fields typed by the schema:
    * (id, block_num, op, value: struct of every non-id field). */
  def typed(decoded: DataFrame, desc: EntityDesc): DataFrame =
    decoded
      .filter(col("entity") === entityName(desc))
      .select(col("id"), col("block_num"), col("op"),
        struct(desc.orderedFields.filter(_.name != "id").map(field): _*).as("value"))

  /** The payload's entity name for a parsed type (the schema parser
    * snake-cases type names). */
  def entityName(desc: EntityDesc): String = desc.name.split('_').map(_.capitalize).mkString

  private def field(f: GraphqlSchema.Field): Column = {
    val e = col("fm").getItem(f.name)
    val c = (f.fieldType, f.array) match {
      case (_, true) => e.getField("a")
      case (FieldType.Bytes, false) => unbase64(e.getField("v"))
      case (FieldType.Int32, false) => e.getField("v").cast("int")
      case (FieldType.Bool, false) => e.getField("v").cast("boolean")
      case _ => e.getField("v")
    }
    c.as(f.name)
  }
}

/** A graph-load workload: its schema, generator and the field the POI
  * chain hashes as the entity value. */
final case class GraphSpec(name: String, sdl: String, poiField: String,
                           gen: (Long, Sizes) => Seq[GenChange])

object GraphSpec {
  val deep = GraphSpec("graph_load_deep", Gen.DeepSdl, "value", Gen.deep)
  val wide = GraphSpec("graph_load_wide", Gen.WideSdl, "amount", Gen.wide)
}

/** What one chain iteration produced, for the checks. */
final case class ChainOut(vids: Map[String, Row], manifests: Map[String, CopyInjector.LoadManifest],
                          scripts: Map[String, String], poi: Array[Row])

/** The graph-load chain: decode → SCD2 versions (or the immutable
  * projection) → CSV serialization → bundled CSV write → vids + COPY
  * manifest → POI chain, one EntityChanges payload per block, run as a
  * batch. */
final class GraphLoadWorkload(spec: GraphSpec, seed: Long, sz: Sizes, work: Path)
    extends Workload {
  val name: String = spec.name
  private val inputs = work.resolve("inputs")
  val payloadDir: String = inputs.resolve("payloads.parquet").toString
  var changes: Seq[GenChange] = Nil
  private var lastOut: Option[(Path, ChainOut)] = None
  private var iter = 0

  lazy val refPoi: Map[Long, String] = Reference.poiChain(changes, spec.poiField)
  lazy val refRows: Map[String, Seq[RefRow]] = {
    val descs = GraphqlSchema.parse(spec.sdl)
    descs.map(d => d.name -> Reference.rows(d,
      changes.filter(_.entity == Decode.entityName(d)))).toMap
  }

  def generate(spark: SparkSession): Unit = {
    generateChanges(spark)
    refPoi; refRows
  }

  /** The changes and the payload files, without the reference. */
  def generateChanges(spark: SparkSession): Seq[GenChange] = {
    changes = spec.gen(seed, sz)
    Gen.writeGraphInputs(spark, inputs, spec.sdl, Gen.payloads(seed, changes))
    changes
  }

  def inputChanges: Long = changes.size.toLong
  def payloadBytes: Long = Io.treeBytes(inputs.resolve("payloads.parquet"), _.endsWith(".parquet"))

  /** One chain run. In a traced run every layer's output is materialized
    * at its span's edge so its time lands in its own span. */
  def chain(spark: SparkSession, tr: Tracer, out: Path, layer: LayerStats): ChainOut = {
    val bundle = sz.bundleBlocks
    val descs = tr.span("sources.schema") {
      GraphqlSchema.parse(new String(Files.readAllBytes(inputs.resolve("schema.graphql")), UTF_8))
    }
    val decoded = tr.span("sources.decode") {
      val d = Decode.changes(spark, payloadDir).persist(StorageLevel.MEMORY_AND_DISK)
      if (tr.enabled) layer.add("sources.changes_out", d.count().toDouble)
      d
    }
    val vids = mutable.Map.empty[String, Row]
    val manifests = mutable.Map.empty[String, CopyInjector.LoadManifest]
    val scripts = mutable.Map.empty[String, String]
    descs.foreach { desc =>
      val typed = Decode.typed(decoded, desc)
      val rows = tr.span("versioner.versions") {
        val v =
          if (desc.immutable) EntityVersioner.immutableBlock(typed)
            .withColumnRenamed("block_num", "start_block")
          else EntityVersioner.scd2Versions(typed)
        val p = v.persist(StorageLevel.MEMORY_AND_DISK)
        if (tr.enabled) layer.add("versioner.rows_out", p.count().toDouble)
        p
      }
      val csv = tr.span("serializer.serialize") {
        val flat = rows.select(
          Seq(col("id"), col("start_block")) ++
            (if (desc.immutable) Nil else Seq(col("end_block"))) :+ col("value.*"): _*)
        val s = flat.select(CsvSerializer.csvColumns(desc) :+ col("start_block").as("block_num"): _*)
        if (tr.enabled) {
          val p = s.persist(StorageLevel.MEMORY_AND_DISK)
          layer.add("serializer.bytes_out", p.agg(sum(octet_length(
            concat_ws(",", p.columns.toSeq.map(c => col(s"`$c`")): _*)))).head().getLong(0).toDouble)
          p
        } else s
      }
      tr.span("bundler.write") {
        Bundler.writeBundled(csv, bundle, out.resolve(desc.name).toString, "csv")
      }
      tr.span("inject.manifest") {
        val m = CopyInjector.manifest(rows, desc, "sgd1", bundle)
        manifests(desc.name) = m
        scripts(desc.name) = CopyInjector.loadScript(m, desc)
        if (tr.enabled) layer.add("inject.driver_rows", m.files.size.toDouble)
      }
      tr.span("inject.vids") {
        val v = VidAssigner.assignVids(spark, typed, bundle)
        vids(desc.name) = v.agg(min("vid"), max("vid"), count(lit(1)), sum("vid")).head()
        if (tr.enabled) layer.add("inject.driver_rows", manifests(desc.name).files.size.toDouble)
      }
    }
    val poi = tr.span("poi.chain") {
      val all = descs.map(d => Decode.typed(decoded, d)
        .select(col("id"), col("block_num"), col("op"), col(s"value.${spec.poiField}").as("value")))
        .reduce(_ unionByName _)
      val rows = PoiStableHash.poiChain(all, bundle).select("block_num", "poi", "chain_digest").collect()
      if (tr.enabled) layer.add("poi.blocks", rows.length.toDouble)
      rows
    }
    ChainOut(vids.toMap, manifests.toMap, scripts.toMap, poi)
  }

  private def freshOut(): Path = {
    iter += 1
    val p = work.resolve(s"out/iter-$iter")
    Io.deleteTree(p)
    p
  }

  /** One iteration: the chain on a fresh output dir, then the cheap
    * per-iteration checks (vid ranges, manifest, POI chain). */
  def op(spark: SparkSession, tr: Tracer, layer: LayerStats): OpResult = {
    val out = freshOut()
    val prev = lastOut.map(_._1)
    val t0 = System.nanoTime()
    val res = tr.span("iteration") { chain(spark, tr, out, layer) }
    val secs = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    prev.foreach(Io.deleteTree)
    lastOut = Some(out -> res)
    val problems = checkOut(res)
    OpResult(secs, problems)
  }

  private def checkOut(o: ChainOut): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    refRows.foreach { case (ent, rows) =>
      val n = rows.size.toLong
      val v = o.vids(ent)
      val got = (v.getLong(0), v.getLong(1), v.getLong(2), v.getLong(3))
      if (n > 0 && got != ((1L, n, n, n * (n + 1) / 2)))
        bad += s"$ent vids (min,max,count,sum)=$got, want 1..$n without gaps"
      val files = o.manifests(ent).files
      val contiguous = files.zip(files.drop(1)).forall { case (a, b) => b.vidStart == a.vidEnd + 1 }
      if (!contiguous || files.headOption.exists(_.vidStart != 1L) || files.map(_.nRows).sum != n)
        bad += s"$ent manifest vid ranges not 1..$n"
      val perBundle = rows.groupBy(_.start / sz.bundleBlocks).map { case (b, rs) => b -> rs.size.toLong }
      if (files.map(f => f.bundle -> f.nRows).toMap != perBundle)
        bad += s"$ent manifest row counts per bundle differ from the reference"
      if (!files.forall(f => o.scripts(ent).contains(f.file)))
        bad += s"$ent load script misses a bundle file"
    }
    val got = o.poi.map(r => r.getLong(0) -> r.getString(1)).toMap
    if (got != refPoi) bad += s"POI chain differs from chainSequential (${got.size} vs ${refPoi.size} blocks)"
    if (o.poi.map(_.getLong(2)).distinct.length > 1) bad += "POI chain digest differs across rows"
    bad.toSeq
  }

  /** The store check on the last iteration's output: every entity's CSV
    * read back, raw cells against the reference rendering and typed
    * values (GraphCsvReader) against the generated values. */
  def gate(spark: SparkSession): Seq[String] = {
    val (out, _) = lastOut.getOrElse(throw new IllegalStateException("no iteration ran"))
    val bad = mutable.ArrayBuffer.empty[String]
    GraphqlSchema.parse(spec.sdl).foreach { desc =>
      val header = CsvSerializer.header(desc) :+ "block_num"
      // writeBundled writes Spark's default CSV dialect (backslash escape)
      // without a header; otherwise read as GraphCsvReader.read does: an
      // empty cell is the empty string, never null
      val raw = spark.read
        .schema(StructType(header.map(StructField(_, StringType))))
        .option("multiLine", "true")
        .option("emptyValue", "")
        .option("nullValue", "\u0000")
        .csv(out.resolve(desc.name).toString)
        .select(header.map(h => col(s"`$h`")): _*)
      val ref = refRows(desc.name)
      val gotRaw = raw.collect().toSeq.map(_.toSeq.map(Digest.cell))
      bad ++= Digest.compare(s"${desc.name} CSV cells", gotRaw, ref.map(Reference.renderCells(desc, _)))
      val gotTyped = GraphCsvReader.readEntity(raw, desc).collect().toSeq.map(_.toSeq.map(Digest.cell))
      bad ++= Digest.compare(s"${desc.name} typed read-back", gotTyped, ref.map(Reference.typedCells(desc, _)))
    }
    bad.toSeq
  }

  def csvBytes: Long = lastOut.map(o => Io.treeBytes(o._1, _.endsWith(".csv"))).getOrElse(0L)
  def csvFiles: Long = lastOut.map(o => Io.treeFiles(o._1, _.endsWith(".csv"))).getOrElse(0L)

  // an operation's wall keeps falling over its first four or five
  // operations in a session, while the JIT compiles the chain's paths
  override def warmupShare: Double = 0.8

  def summary(ops: Seq[OpResult]): Map[String, (Double, String)] = {
    val walls = ops.map(_.seconds)
    val p50 = Stats.median(walls)
    Map(
      "load_wall_s" -> (p50, "s"),
      "load_wall_max_s" -> (walls.max, "s"),
      "changes_per_s" -> (inputChanges / p50, "changes/s"),
      "csv_bytes_per_change" -> (csvBytes.toDouble / inputChanges, "B"),
      "latency_p50_s" -> (p50, "s"),
      "latency_p90_s" -> (Stats.quantile(walls, 0.9), "s"),
      "items_per_s" -> (inputChanges / p50, "1/s"))
  }
}
