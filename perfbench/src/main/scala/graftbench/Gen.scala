package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.sources.ProtoEntityChanges
import graft.sources.ProtoEntityChanges.{PbChange, PbField, PbValue}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One generated change, kept in memory for the sequential reference.
  * `fields` is empty for a DELETE; a None value is a null field. */
final case class GenChange(entity: String, id: String, block: Long, op: String,
                           fields: Seq[(String, Option[PbValue])])

/** Input sizes. `full` is what the benchmark measures; `tiny` is the
  * smoke test's size. */
final case class Sizes(deepEntities: Int, deepBlocks: Int, deepHistory: Int,
                       wideAccounts: Int, wideTransfers: Int, wideBlocks: Int,
                       liveWaveBlocks: Long, docs: Int, vectors: Int, bundleBlocks: Long)

object Sizes {
  val full = Sizes(deepEntities = 3000, deepBlocks = 4000, deepHistory = 60,
    wideAccounts = 12000, wideTransfers = 60000, wideBlocks = 2000,
    liveWaveBlocks = 100, docs = 2000, vectors = 1000, bundleBlocks = 250)
  val tiny = Sizes(deepEntities = 40, deepBlocks = 200, deepHistory = 12,
    wideAccounts = 60, wideTransfers = 200, wideBlocks = 100,
    liveWaveBlocks = 20, docs = 120, vectors = 80, bundleBlocks = 50)
}

/** The seeded input generator. Everything here runs before any timed
  * window; the program under test sees only the files it writes. */
object Gen {

  val DeepSdl: String =
    """type Event @entity {
      |  id: ID!
      |  value: BigDecimal!
      |}
      |""".stripMargin

  val WideSdl: String =
    """type Transfer @entity(immutable: true) {
      |  id: ID!
      |  from_addr: Bytes!
      |  to_addr: Bytes!
      |  amount: BigDecimal!
      |  token: String!
      |  memo: String
      |}
      |
      |type Account @entity {
      |  id: ID!
      |  owner: Bytes!
      |  balance: BigInt!
      |  amount: BigDecimal!
      |  nonce: Int!
      |  active: Boolean!
      |  label: String
      |  score: BigDecimal
      |  avatar: Bytes
      |  tags: [String!]!
      |  memo: String!
      |}
      |""".stripMargin

  private def hex(r: Random, nBytes: Int): String = {
    val b = new Array[Byte](nBytes); r.nextBytes(b)
    "0x" + b.map(x => f"${x & 0xff}%02x").mkString
  }

  private val Unicode = Seq("ñandú", "数据", "Ωmega", "zürich", "🦊fox", "naïve")

  /** Entity ids: mostly hex addresses, a quarter composite `0x…-N`, a
    * few unicode ids, and one empty id. */
  def ids(r: Random, n: Int): IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    var i = 0
    while (seen.size < n) {
      val id =
        if (i == 0) ""
        else if (i % 97 == 1) s"${Unicode(i % Unicode.size)}-$i"
        else if (i % 4 == 0) s"${hex(r, 20)}-${r.nextInt(8)}"
        else hex(r, 20)
      seen += id
      i += 1
    }
    seen.toIndexedSeq
  }

  private def cents(r: Random): String =
    java.math.BigDecimal.valueOf(r.nextLong(10000000000L), 2).toPlainString

  private def sampleBlocks(r: Random, n: Int, blocks: Int, from: Int = 0): Array[Long] = {
    val s = mutable.HashSet.empty[Long]
    val want = math.min(n, blocks - from)
    while (s.size < want) s += (from + r.nextInt(blocks - from)).toLong
    s.toArray.sorted
  }

  /** graph_load_deep: every entity has a history of `deepHistory`
    * changes (so every seed has the same change count), ≈20% CREATE, 20%
    * DELETE, 60% UPDATE, one narrow BigDecimal field. At most one change
    * per (id, block). */
  def deep(seed: Long, sz: Sizes): Seq[GenChange] = {
    val r = new Random(seed)
    val out = mutable.ArrayBuffer.empty[GenChange]
    ids(r, sz.deepEntities).foreach { id =>
      var live = false
      sampleBlocks(r, sz.deepHistory, sz.deepBlocks).foreach { b =>
        val op =
          if (!live) "CREATE"
          else if (r.nextDouble() < 0.25) "DELETE"
          else "UPDATE"
        live = op != "DELETE"
        val fields =
          if (op == "DELETE") Nil
          else Seq("value" -> Some(PbValue("Bigdecimal", cents(r))))
        out += GenChange("Event", id, b, op, fields)
      }
    }
    out.toSeq
  }

  private val Words = Seq("alpha", "beta", "gamma", "delta", "vault", "pool",
    "swap", "mint", "burn", "stake", "ñu", "数据", "o'neil", "say \"hi\"")

  private def words(r: Random, n: Int): String =
    Seq.fill(n)(Words(r.nextInt(Words.size))).mkString(" ")

  private val TagParts = Seq("a,b", "c\\d", "plain", "x, y", "back\\\\slash",
    "end\\", "ünï", "q\"t", "nul\u0000x")

  private def b64(r: Random, n: Int): PbValue = {
    val b = new Array[Byte](n); r.nextBytes(b)
    PbValue("Bytes", java.util.Base64.getEncoder.encodeToString(b))
  }

  private def accountFields(r: Random): Seq[(String, Option[PbValue])] = Seq(
    "owner" -> Some(b64(r, 20)),
    "balance" -> Some(PbValue("Bigint",
      new java.math.BigInteger(100, r.self).subtract(java.math.BigInteger.ONE.shiftLeft(98)).toString)),
    "amount" -> Some(PbValue("Bigdecimal", cents(r))),
    "nonce" -> Some(ProtoEntityChanges.int32Value(r.nextInt() / 4)),
    "active" -> Some(PbValue("Bool", r.nextBoolean().toString)),
    "label" -> (if (r.nextDouble() < 0.3) None
                else Some(PbValue("String", words(r, 1 + r.nextInt(3))))),
    "score" -> (if (r.nextDouble() < 0.4) None
                else Some(PbValue("Bigdecimal",
                  java.math.BigDecimal.valueOf(r.nextLong(1000000000000L), 6).toPlainString))),
    "avatar" -> (if (r.nextDouble() < 0.5) None else Some(b64(r, 8 + r.nextInt(24)))),
    "tags" -> Some(PbValue("Array", null,
      Seq.fill(r.nextInt(5))(PbValue("String", TagParts(r.nextInt(TagParts.size)) + r.nextInt(100))))),
    "memo" -> Some(PbValue("String", if (r.nextDouble() < 0.1) "" else words(r, 4 + r.nextInt(8)))))

  private def transferFields(r: Random): Seq[(String, Option[PbValue])] = Seq(
    "from_addr" -> Some(b64(r, 20)),
    "to_addr" -> Some(b64(r, 20)),
    "amount" -> Some(PbValue("Bigdecimal", cents(r))),
    "token" -> Some(PbValue("String", Seq("USDC", "WETH", "ΔTOKEN", "DAI")(r.nextInt(4)))),
    "memo" -> (if (r.nextDouble() < 0.5) None else Some(PbValue("String", words(r, 2 + r.nextInt(6))))))

  /** graph_load_wide: many shallow entities, mostly CREATE. Transfers are
    * immutable; accounts carry the wide typed fields and may see one
    * UPDATE and then a DELETE. */
  def wide(seed: Long, sz: Sizes): Seq[GenChange] = {
    val r = new Random(seed)
    val out = mutable.ArrayBuffer.empty[GenChange]
    val nb = sz.wideBlocks
    ids(r, sz.wideAccounts).foreach { id =>
      val first = r.nextInt(nb * 9 / 10)
      out += GenChange("Account", id, first, "CREATE", accountFields(r))
      if (r.nextDouble() < 0.3) {
        val later = sampleBlocks(r, 2, nb, first + 1)
        if (later.nonEmpty) {
          out += GenChange("Account", id, later(0), "UPDATE", accountFields(r))
          if (later.length > 1 && r.nextDouble() < 0.15)
            out += GenChange("Account", id, later(1), "DELETE", Nil)
        }
      }
    }
    var t = 0
    while (t < sz.wideTransfers) {
      val tx = hex(r, 32)
      val logs = 1 + r.nextInt(3)
      val b = r.nextInt(nb).toLong
      (0 until math.min(logs, sz.wideTransfers - t)).foreach { li =>
        out += GenChange("Transfer", s"$tx-$li", b, "CREATE", transferFields(r))
        t += 1
      }
    }
    out.toSeq
  }

  private val OpEnum = Map("CREATE" -> "OPERATION_CREATE",
    "UPDATE" -> "OPERATION_UPDATE", "DELETE" -> "OPERATION_DELETE")

  /** One EntityChanges payload per block, changes in a seeded order. */
  def payloads(seed: Long, changes: Seq[GenChange]): Seq[(Long, Array[Byte])] = {
    val r = new Random(seed ^ 0x5eedL)
    changes.groupBy(_.block).toSeq.sortBy(_._1).map { case (b, cs) =>
      b -> ProtoEntityChanges.encode(r.shuffle(cs).zipWithIndex.map { case (c, i) =>
        PbChange(c.entity, c.id, i.toLong, OpEnum(c.op),
          c.fields.map { case (n, v) => PbField(n, v) })
      })
    }
  }

  /** Writes `payloads.parquet` (block_num, payload) as eight files in
    * block order, so the scan splits across cores, and the schema as
    * `schema.graphql`. */
  def writeGraphInputs(spark: SparkSession, dir: Path, sdl: String,
                       payloads: Seq[(Long, Array[Byte])]): Unit = {
    import spark.implicits._
    Files.createDirectories(dir)
    Files.write(dir.resolve("schema.graphql"), sdl.getBytes(UTF_8))
    spark.sparkContext.parallelize(payloads.sortBy(_._1), 8).toDF("block_num", "payload")
      .write.mode("overwrite").parquet(dir.resolve("payloads.parquet").toString)
  }

  // ---- curation corpus -------------------------------------------------

  private val Vocab = Seq("the", "a", "data", "table", "join", "query", "stream",
    "window", "value", "spark", "merge", "batch", "row", "column", "sort", "hash",
    "key", "scan", "filter", "group", "order", "line", "part", "customer", "fast",
    "slow", "big", "small", "vector", "agg", "index", "cache", "shard", "token",
    "model", "train", "eval", "corpus", "clean", "dedup")
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  /** Documents and embeddings with fixed shares of exact duplicates (10%)
    * and near duplicates (15%, a few words changed); vectors carry ten
    * labelled clusters and 15% near-duplicate vectors. */
  def writeCorpus(spark: SparkSession, dir: Path, seed: Long, sz: Sizes): Unit = {
    import spark.implicits._
    val r = new Random(seed ^ 0xc0ffeeL)
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until sz.docs).foreach { i =>
      val u = r.nextDouble()
      val t =
        if (i > 10 && u < 0.10) texts(r.nextInt(texts.size))
        else if (i > 10 && u < 0.25) {
          val w = texts(r.nextInt(texts.size)).split(' ')
          (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.size)))
          w.mkString(" ")
        } else Seq.fill(20 + r.nextInt(60))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      texts += t
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}", t.length.toLong)
    }
    docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)

    val dim = 64
    val centers = Array.fill(10, dim)(r.nextGaussian())
    val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float], Int)]
    (0 until sz.vectors).foreach { i =>
      val v =
        if (i > 10 && r.nextDouble() < 0.15) {
          val (_, src, lab) = vecs(r.nextInt(vecs.size))
          (src.map(x => x + (r.nextGaussian() * 0.01).toFloat), lab)
        } else {
          val lab = r.nextInt(10)
          (Array.tabulate(dim)(d => (centers(lab)(d) + r.nextGaussian() * 0.6).toFloat), lab)
        }
      vecs += ((i.toLong, v._1, v._2))
    }
    vecs.toSeq.map { case (i, v, l) => (i, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
  }
}
