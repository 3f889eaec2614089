package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.{AnnIndex, Bpe, PqIndex, StateStore}

/** Outputs kept for the DuckDB check that `run.py` makes after the JVM
  * exits: one parquet directory per label under `out/check`, and
  * `check.json` mapping each label to its reference SQL and to how many
  * timed calls returned exactly this output. */
final class CheckSink(spark: SparkSession, out: String) {
  private val kept = mutable.LinkedHashMap.empty[String, (String, StructType, Array[Row])]
  private val calls = mutable.HashMap.empty[String, Int].withDefaultValue(0)

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** Keeps the first output under `label`; later outputs must equal it. */
  def record(label: String, sql: String, res: Any): Boolean = res match {
    case (schema: StructType, rows: Array[Row] @unchecked) =>
      calls(label) += 1
      kept.get(label) match {
        case None => kept(label) = (sql, schema, rows); true
        case Some((_, _, first)) => canon(first) == canon(rows)
      }
    case _ => false
  }

  def write(): Unit = {
    val entries = kept.map { case (label, (sql, schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/check/$label")
      label -> Map("sql" -> sql, "calls" -> calls(label))
    }
    Files.writeString(Paths.get(out, "check.json"), Json.write(entries))
  }
}

object Gates {
  lazy val queries = graft.SparkEntry.queries
  lazy val oracle = graft.SparkEntry.oracleSql

  /** One `SparkEntry.queries` gate as a timed call: build the frame, then
    * collect it (the terminal action). */
  def op(spark: SparkSession, data: String, sink: CheckSink, name: String, layer: String): Op =
    Op(name, layer, "gate", built => {
      val df = queries(name)(spark, data)
      built()
      (df.schema, df.collect())
    }, check = res => sink.record(name, oracle(name), res))
}

/** Quoted DataBag programs through `RuntimeQuotation.compile`, then the
  * comprehension-compiled and `lib` gates. Per pass: WordCount and
  * EnumerateTriangles re-submitted verbatim (compile-cache hits after the
  * first pass) and two programs whose constants the seed edits every pass
  * (misses). */
final class DslPrograms(spark: SparkSession, data: String, out: String, seed: Long)
    extends Workload {
  val sink = new CheckSink(spark, out)

  val gates = Seq(
    "q183_comprehension" -> "api", "q228_comprehension_foldgroup" -> "api",
    "q231_comprehension_groupfusion" -> "api", "q253_stats_pipeline" -> "lib",
    "q21_wordcount" -> "lib")

  val triangles: String = Main.quoteHeader +
    """  import org.apache.spark.sql.functions.{greatest, least}
      |  val raw = spark.read.parquet(dir + "/lineitem.parquet")
      |    .select((col("l_suppkey") % 30).as("src"), (col("l_partkey") % 30).as("dst"))
      |  val es = DataBag.from(raw.select(least(col("src"), col("dst")).as("s"),
      |      greatest(col("src"), col("dst")).as("d"))
      |    .where(col("s") =!= col("d")).distinct().as[graft.UEdge])
      |  val tri = onSpark {
      |    for {
      |      xy <- es
      |      yz <- es
      |      if xy.d == yz.s
      |      xz <- es
      |      if xz.s == xy.s
      |      if xz.d == yz.d
      |    } yield (xy.s, xy.d, yz.d)
      |  }
      |  tri.ds.toDF("x", "y", "z")
      |}""".stripMargin
  val trianglesSql: String =
    """WITH e AS (SELECT DISTINCT least(l_suppkey % 30, l_partkey % 30) AS s,
      |  greatest(l_suppkey % 30, l_partkey % 30) AS d FROM lineitem
      |  WHERE l_suppkey % 30 <> l_partkey % 30)
      |SELECT xy.s AS x, xy.d AS y, yz.d AS z FROM e xy JOIN e yz ON xy.d = yz.s
      |JOIN e xz ON xz.s = xy.s AND xz.d = yz.d""".stripMargin
  val wordCountSql = "SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM " +
    "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w"

  def joinFilter(t: Int): (String, String) = (Main.quoteHeader +
    s"""  val orders = DataBag.from(spark.read.parquet(dir + "/orders.parquet")
       |    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")).as[graft.OrderRow])
       |  val custs = DataBag.from(spark.read.parquet(dir + "/customer.parquet")
       |    .select(col("c_custkey"), col("c_name"), col("c_acctbal")).as[graft.CustRow])
       |  val res = onSpark {
       |    for {
       |      o <- orders
       |      cu <- custs
       |      if o.o_custkey == cu.c_custkey
       |      if cu.c_acctbal > $t.0
       |    } yield (o.o_orderkey, cu.c_name, math.floor(o.o_totalprice * 100.0).toLong)
       |  }
       |  res.ds.toDF("o_orderkey", "c_name", "price_cents")
       |}""".stripMargin,
    "SELECT o_orderkey, c_name, CAST(floor(o_totalprice * 100.0) AS BIGINT) AS price_cents " +
      s"FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_acctbal > $t.0")

  def foldGroup(m: Int): (String, String) = (Main.quoteHeader +
    s"""  val orders = DataBag.from(spark.read.parquet(dir + "/orders.parquet")
       |    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")).as[graft.OrderRow])
       |  val res = onSpark {
       |    for { g <- orders.groupBy(o => o.o_custkey % ${m}L) }
       |      yield (g.key, g.values.size,
       |        g.values.map(o => (o.o_totalprice * 100 + 0.5).floor.toLong).sum)
       |  }
       |  res.ds.toDF("bucket", "n", "cents")
       |}""".stripMargin,
    s"SELECT o_custkey % $m AS bucket, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents " +
      "FROM orders GROUP BY 1")

  private val seen = mutable.HashSet.empty[String]

  /** Quote (timed, `macros`) then run (timed, `api`) one program. The
    * calls are named after the program, the same in every pass; `label`
    * also tells apart the outputs of its seeded edits. */
  private def snippet(name: String, label: String, src: String, sql: String): Seq[Op] = {
    var fn: Main.Quoted = null
    val hit = !seen.add(src)
    Seq(
      Op(s"quote:$name:${if (hit) "hit" else "miss"}", "macros", "quote", _ => {
        fn = graft.api.RuntimeQuotation.compile[Main.Quoted](src)(spark)
      }),
      Op(s"run:$name", "api", "run", built => {
        val df = fn(spark, data)
        built()
        (df.schema, df.collect())
      }, check = res => sink.record(label, sql, res)))
  }

  def pass(p: Int): Seq[Op] = {
    val rnd = new java.util.Random(seed * 7919L + p)
    // edits change the source (a compile-cache miss) but barely the work
    val t = 4000 + rnd.nextInt(1000)
    val m = 200 + rnd.nextInt(100)
    val (jf, jfSql) = joinFilter(t)
    val (fg, fgSql) = foldGroup(m)
    snippet("wordcount", "wordcount", Main.wordCount, wordCountSql) ++
      snippet("triangles", "triangles", triangles, trianglesSql) ++
      snippet("joinfilter", s"joinfilter_$t", jf, jfSql) ++
      snippet("foldgroup", s"foldgroup_$m", fg, fgSql) ++
      gates.map { case (g, layer) => Gates.op(spark, data, sink, g, layer) }
  }

  override def finish(traced: Boolean): Map[String, Any] = { sink.write(); Map.empty }
}

/** A seeded stream of reads and writes against the persisted `ops`
  * structures, checked against a plain-Scala replay of the same stream. */
final class IndexMaintenance(spark: SparkSession, data: String, out: String) extends Workload {
  import spark.implicits._
  val K = 3
  val NProbe = 2
  val root = s"$out/store"
  val stateDir = s"$root/state"; val annDir = s"$root/ann"; val pqDir = s"$root/pq"
  val tokDir = s"$root/tok"; val sigDir = s"$root/signals"

  private val mapper = new ObjectMapper()
  val ops: Map[Int, Seq[JsonNode]] = Files.readAllLines(Paths.get(data, "ops.jsonl")).asScala
    .map(mapper.readTree).toSeq.groupBy(_.get("pass").asInt)
  private def longs(j: JsonNode): Seq[Long] = j.elements().asScala.map(_.asLong).toSeq

  // the replay model: plain Scala collections, no graft code
  val state = mutable.HashMap.empty[Long, Double]
  val vecs = mutable.HashMap.empty[Long, Array[Float]]
  val annLive = mutable.HashSet.empty[Long]
  val pqLive = mutable.HashSet.empty[Long]
  var tokenizers: Map[Int, (Seq[(String, String)], Seq[(String, Int)])] = Map.empty
  var savedTok = 0
  val signals = mutable.HashMap.empty[Long, Long]
  val recall = mutable.HashMap("ann" -> Array(0L, 0L), "pq" -> Array(0L, 0L))
  var streamBatch = 0

  lazy val emb: DataFrame = spark.read.parquet(s"$data/embeddings.parquet")
  lazy val pool: DataFrame = spark.read.parquet(s"$data/vector_pool.parquet")
  lazy val docs: DataFrame = spark.read.parquet(s"$data/documents.parquet")
  def signalsOf(df: DataFrame): DataFrame = df.select(col("doc_id"),
    size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
  def nTokens(text: String): Long = text.trim.split("\\s+").length.toLong

  private val steps = mutable.LinkedHashMap.empty[String, Double]
  private def step[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f; steps(name) = (System.nanoTime() - t0) / 1e6; r
  }

  override def prepare(): Unit = {
    val baseIds = emb.select("vec_id").collect().map(_.getLong(0))
    (emb.collect() ++ pool.collect()).foreach(r => vecs(r.getLong(0)) = r.getSeq[Float](1).toArray)
    step("state") {
      val orders = spark.read.parquet(s"$data/orders.parquet")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      StateStore.create(orders, "k", 16, stateDir)
      orders.collect().foreach(r => state(r.getLong(0)) = r.getDouble(1))
    }
    step("ann") { AnnIndex.save(AnnIndex.buildIvf(emb, nlist = 8, maxIter = 4), annDir) }
    annLive ++= baseIds
    step("pq") { PqIndex.save(PqIndex.build(emb, nlist = 8, m = 8, ksub = 16, maxIter = 4), pqDir) }
    pqLive ++= baseIds
    step("tok") {
      val (mdf, _) = Bpe.trainLocal(docs, numMerges = 40)
      val ms = mdf.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val chars = Bpe.corpusChars(docs)
      tokenizers = Seq(24, 32, 40).map(n => n -> ((ms.take(n), Bpe.vocab(chars, ms.take(n))))).toMap
      Bpe.saveTokenizer(spark, tokDir, tokenizers(40)._1, tokenizers(40)._2)
    }
    savedTok = 40
    step("signals") { StateStore.create(signalsOf(docs), "doc_id", 16, sigDir) }
    docs.select("doc_id", "text").collect().foreach(r => signals(r.getLong(0)) = nTokens(r.getString(1)))
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    d / math.sqrt(na * nb)
  }

  /** Live ids only, k results per query, no self match; recall@k against
    * exact brute-force top-k over the live set. */
  private def checkProbe(res: Any, queries: Seq[Long], live: collection.Set[Long],
      which: String): Boolean = {
    val rows = res.asInstanceOf[Array[Row]].map(r => (r.getLong(0), r.getLong(1)))
    val got = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val ok = got.keySet == queries.toSet && got.values.forall(_.size == K) &&
      rows.forall { case (q, d) => live(d) && q != d }
    for (q <- queries) {
      val exact = live.iterator.filter(_ != q).map(d => (d, cosine(vecs(q), vecs(d)))).toSeq
        .sortBy { case (d, s) => (-s, d) }.take(K).map(_._1).toSet
      recall(which)(0) += (exact intersect got.getOrElse(q, Set.empty)).size
      recall(which)(1) += exact.size
    }
    ok
  }

  private def queryVecs(ids: Seq[Long]): DataFrame = emb.where(col("vec_id").isin(ids: _*))

  def toOp(j: JsonNode): Op = j.get("op").asText match {
    case "lookup" =>
      val keys = longs(j.get("keys"))
      Op("lookup", "ops", "read", built => {
        val df = StateStore.lookup(spark, stateDir, keys); built(); df.collect()
      }, check = res => res.asInstanceOf[Array[Row]]
        .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"))).toSet ==
        keys.flatMap(k => state.get(k).map(k -> _)).toSet)
    case "upsert" =>
      val rows = j.get("rows").elements().asScala.map(r =>
        (r.get(0).asLong, r.get(1).asDouble, r.get(2).asBoolean)).toSeq
      Op("upsert", "ops", "write", built => {
        val delta = rows.toDF("k", "v", "del"); built()
        StateStore.upsert(spark, stateDir, delta, Some("del"))
      }, check = _ => {
        rows.foreach { case (k, v, dead) => if (dead) state.remove(k) else state(k) = v }
        true
      }, userBytes = rows.length * 17L)
    case kind @ ("ann_append" | "pq_append") =>
      val (lo, hi) = (j.get("lo").asLong, j.get("hi").asLong)
      val live = if (kind == "ann_append") annLive else pqLive
      Op(kind, "ops", "write", built => {
        val batch = pool.where(col("vec_id") >= lo && col("vec_id") < hi); built()
        if (kind == "ann_append") AnnIndex.appendSaved(spark, annDir, batch)
        else PqIndex.appendSaved(spark, pqDir, batch)
      }, check = _ => { live ++= (lo until hi); true }, userBytes = (hi - lo) * (8L + 4 * 64))
    case kind @ ("ann_delete" | "pq_delete") =>
      val ids = longs(j.get("ids"))
      val live = if (kind == "ann_delete") annLive else pqLive
      Op(kind, "ops", "write", _ => {
        if (kind == "ann_delete") AnnIndex.deleteSaved(spark, annDir, ids)
        else PqIndex.deleteSaved(spark, pqDir, ids)
      }, check = _ => { live --= ids; true }, userBytes = ids.length * 8L)
    case "ann_compact" =>
      Op("ann_compact", "ops", "write", _ => AnnIndex.compactSaved(spark, annDir))
    case "ann_probe" =>
      val qs = longs(j.get("queries"))
      Op("ann_probe", "ops", "read", built => {
        val idx = AnnIndex.load(spark, annDir); built()
        AnnIndex.probe(idx, queryVecs(qs), k = K, nprobe = NProbe).select("qid", "did").collect()
      }, check = res => checkProbe(res, qs, annLive, "ann"))
    case "pq_probe" =>
      val qs = longs(j.get("queries"))
      Op("pq_probe", "ops", "read", built => {
        val idx = PqIndex.load(spark, pqDir); built()
        PqIndex.probe(idx, queryVecs(qs), k = K, nprobe = NProbe).select("qid", "did").collect()
      }, check = res => checkProbe(res, qs, pqLive, "pq"))
    case "tok_save" =>
      val n = j.get("merges").asInt
      val (ms, voc) = tokenizers(n)
      Op("tok_save", "ops", "write", _ => Bpe.saveTokenizer(spark, tokDir, ms, voc),
        check = _ => { savedTok = n; true },
        userBytes = ms.map { case (l, r) => l.length + r.length + 4L }.sum +
          voc.map(_._1.length + 4L).sum)
    case "tok_load" =>
      Op("tok_load", "ops", "read", _ => Bpe.loadTokenizer(spark, tokDir),
        check = res => res == tokenizers(savedTok))
    case "stream_maint" =>
      val rows = j.get("docs").elements().asScala.map { r =>
        val drop = r.get(1).asText == "drop"
        (r.get(0).asLong, if (drop) "" else r.get(2).asText, drop)
      }.toSeq
      val dir = s"$root/stream/b$streamBatch"
      streamBatch += 1
      Op("stream_maint", "streaming", "write",
        stage = () => rows.toDF("doc_id", "text", "del").coalesce(1)
          .write.mode("overwrite").parquet(dir),
        run = built => {
          val stream = spark.readStream.schema("doc_id LONG, text STRING, del BOOLEAN")
            .option("maxFilesPerTrigger", "1").parquet(dir)
          built()
          graft.streaming.Streams.streamSignalMaintenance(stream, sigDir, "del")(signalsOf)
        },
        check = _ => {
          rows.foreach { case (d, t, drop) => if (drop) signals.remove(d) else signals(d) = nTokens(t) }
          val ids = rows.map(_._1)
          StateStore.lookup(spark, sigDir, ids).collect()
            .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"))).toSet ==
            ids.flatMap(d => signals.get(d).map(d -> _)).toSet
        },
        userBytes = rows.map(_._2.length + 9L).sum)
  }

  def pass(p: Int): Seq[Op] = ops.getOrElse(p, Seq.empty).map(toOp)

  private def bytesUnder(dir: String): Long = {
    val walk = Files.walk(Paths.get(dir))
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally walk.close()
  }

  override def finish(traced: Boolean): Map[String, Any] = {
    val stateOk = StateStore.read(spark, stateDir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"))).toMap == state.toMap
    val res = mutable.LinkedHashMap[String, Any](
      "prepare_steps_ms" -> steps,
      "final_state_ok" -> stateOk,
      "ann_recall" -> recall("ann")(0).toDouble / math.max(1L, recall("ann")(1)),
      "pq_recall" -> recall("pq")(0).toDouble / math.max(1L, recall("pq")(1)))
    if (traced) {
      // space amplification: bytes on disk now over a fresh save of the
      // same final state
      val fresh = s"$out/fresh"
      StateStore.create(StateStore.read(spark, stateDir), "k", 16, s"$fresh/state")
      AnnIndex.save(AnnIndex.load(spark, annDir), s"$fresh/ann")
      PqIndex.save(PqIndex.load(spark, pqDir), s"$fresh/pq")
      val (ms, voc) = Bpe.loadTokenizer(spark, tokDir)
      Bpe.saveTokenizer(spark, s"$fresh/tok", ms, voc)
      StateStore.create(StateStore.read(spark, sigDir), "doc_id", 16, s"$fresh/signals")
      val now = Seq(stateDir, annDir, pqDir, tokDir, sigDir).map(bytesUnder).sum
      res("space_amp") = now.toDouble / bytesUnder(fresh)
    }
    res.toMap
  }
}
