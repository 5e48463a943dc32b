package layerbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnShim
import graft.core.Terminals._
import graft.operators.{Classifier, Dedup, Graph, Similarity, Windows, TextAnalysis => TA}
import graft.sources.Readers
import graft.streaming.StreamOps

/** One benchmark workload. `generate` and `prepare` are set-up (inputs
  * written as parquet, artefacts trained once); `pass` is one timed
  * pass from the input files to materialized results; `verify` runs the
  * reference checks on the first warm-up pass's kept results and writes
  * what the DuckDB checks need into the output directory. */
trait Workload {
  def name: String
  def generate(c: Ctx): Unit
  def prepare(c: Ctx): Unit = ()
  def pass(c: Ctx): Map[String, Out]
  def verify(c: Ctx): Unit

  protected def write(c: Ctx, table: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"${c.dataDir}/$table.parquet")

  protected def rowsOf(c: Ctx, tables: String*): Long =
    tables.map(t => c.spark.read.parquet(s"${c.dataDir}/$t.parquet").count()).sum
}

object Workload {
  val all: Seq[Workload] = Seq(IndexedPipeline, TextDedup, Iterate, StreamIngest)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  /** Jaccard of two documents' word 3-shingle sets (Dedup.shingleArray's
    * tokenization: runs of non-ASCII-whitespace). */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String) = t.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty)
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }
}

/** Java-Stream-style analytics over a lineitem-shaped table: index,
  * map, sort and tumbling windows, the median and skewness terminals,
  * plus a grouped running total over events. */
object IndexedPipeline extends Workload {
  val name = "indexed_pipeline"

  def generate(c: Ctx): Unit = {
    write(c, "lineitem", Gen.lineitem(c.spark, c.n(40000), c.seed))
    write(c, "events", Gen.events(c.spark, c.n(20000), c.seed))
    c.rows = rowsOf(c, "lineitem", "events")
  }

  def pass(c: Ctx): Map[String, Out] = {
    val spark = c.spark
    import spark.implicits._
    val li = c.table("lineitem")
    val ev = c.table("events")
    val order = Seq(col("l_orderkey"), col("l_linenumber"))
    def core[A](fn: String)(a: => A): A = c.t.span("core", "SemanticStream", fn, "build")(a)
    def term(fn: String)(body: => Out): Out = c.terminal("core", "Terminals", fn)(body)

    val prices = c.t.span("sources", "Readers", "indexed", "build") {
      Readers.indexed[Double](li, col("l_extendedprice"), order)
    }
    val mapped = core("map")(prices.map(v => v * 2.0 + 1.0))
    val sorted = core("sortByColumn")(mapped.sortByColumn(identity, ascending = false))
    val tumbled = core("tumble")(sorted.tumble(1000))

    val out = mutable.LinkedHashMap.empty[String, Out]
    out("median") = term("median") {
      val v = prices.toStatistics.median; c.keepRaw("median", v); Out("", Seq(v))
    }
    out("skewness") = term("skewness") {
      val v = prices.toStatistics.skewness; c.keepRaw("skewness", v); Out("", Seq(v))
    }
    out("tumble") = term("tumble") {
      val w = tumbled.select(col("win"), size(col("elements")),
        aggregate(col("elements"), lit(0.0), (a, x) => a + x)).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1).toSeq
      c.keepRaw("tumble", w)
      Out(w.map(x => s"${x._1}:${x._2}").mkString(";"), w.map(_._3))
    }
    out("running") = c.step("operators", "Windows", "groupedRunningTotal") {
      Windows.groupedRunningTotal(ev, col("e_key"), col("e_ts"),
        Seq(col("e_ts"), col("e_id")), col("e_value"), "cum")
    } { df => c.keepRaw("running", df); Out.digest(df) }
    out.toMap
  }

  def verify(c: Ctx): Unit = {
    c.raw("running").asInstanceOf[DataFrame].select("e_id", "cum")
      .write.mode("overwrite").parquet(s"${c.outDir}/running.parquet")
    Claims.write(c, Seq(
      "median" -> Claims.num(c.raw("median")),
      "skewness" -> Claims.num(c.raw("skewness")),
      "tumble" -> Claims.rows(c.raw("tumble").asInstanceOf[Seq[(Long, Int, Double)]]
        .map(w => Seq(w._1, w._2, w._3)))))
  }
}

/** Single-pass LLM data-prep chain: normalize, redact, exact and MinHash
  * dedup, BPE-encode (merges trained in set-up) and PQ-encode (codebooks
  * seeded in set-up). */
object TextDedup extends Workload {
  val name = "text_dedup"
  private var merges: Seq[(String, String)] = Nil
  private var books: Array[Array[Array[Double]]] = Array.empty

  def generate(c: Ctx): Unit = {
    write(c, "documents", Gen.documents(c.spark, c.n(800), c.seed))
    write(c, "embeddings", Gen.embeddings(c.spark, c.n(600), 64, c.seed))
    c.rows = rowsOf(c, "documents", "embeddings")
  }

  override def prepare(c: Ctx): Unit = {
    val docs = c.spark.read.parquet(s"${c.dataDir}/documents.parquet")
    merges = TA.bpeTrainMerges(docs, "text", 3).orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    books = Similarity.pqSeedBooks(c.spark.read.parquet(s"${c.dataDir}/embeddings.parquet"),
      "vec_id", "embedding", 8, 16)
  }

  def pass(c: Ctx): Map[String, Out] = {
    val docs = c.table("documents")
    val emb = c.table("embeddings")
    def op(module: String, fn: String)(build: => DataFrame)(run: DataFrame => Out): Out =
      c.step("operators", module, fn)(build)(run)
    def pairs(df: DataFrame, cols: String*): Seq[Row] =
      df.select(cols.map(col): _*).collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    val out = mutable.LinkedHashMap.empty[String, Out]
    out("normalize") = op("TextAnalysis", "normalizeUnicode")(
      docs.select(col("doc_id"), TA.normalizeUnicode(col("text")).as("text")))(Out.digest)
    out("redact") = op("TextAnalysis", "redactPiiDeep")(
      docs.select(col("doc_id"), TA.redactPiiDeep(col("text")).as("text")))(Out.digest)
    out("exact") = op("Dedup", "exact")(Dedup.exact(docs, "doc_id", "text")) { df =>
      c.keepRaw("exact", df); Out.digest(df)
    }
    out("minhash") = op("Dedup", "minhashNearDups")(
      Dedup.minhashNearDups(docs, "doc_id", "text", shingleWidth = 3, numHashes = 12,
        bands = 4, threshold = 0.5, maxBucketSize = Some(64))) { df =>
      val ps = pairs(df, "a", "b", "jaccard"); c.keepRaw("minhash", ps); Out.rows(ps)
    }
    out("bpe") = op("TextAnalysis", "bpeEncode")(
      TA.bpeEncode(docs, "doc_id", "text", merges)) { df =>
      val r = df.agg(sum("n_words"), sum("n_bpe_tokens")).collect()(0)
      c.keepRaw("bpe", (r.getLong(0), r.getLong(1)))
      Out(s"${r.getLong(0)}:${r.getLong(1)}")
    }
    out("pq") = op("Similarity", "pqEncode")(
      Similarity.pqEncode(emb, "vec_id", "embedding", books)) { df =>
      val codes = df.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
      c.keepRaw("pq", codes); Out.rows(codes)
    }
    out.toMap
  }

  def verify(c: Ctx): Unit = {
    val spark = c.spark
    val texts = spark.read.parquet(s"${c.dataDir}/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (r <- c.raw("minhash").asInstanceOf[Seq[Row]]) {
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      c.checks(s"minhash.jaccard($a,$b)") {
        val ref = Workload.jaccard(texts(a), texts(b))
        math.abs(ref - j) < 1e-9 && ref >= 0.5
      }
    }
    c.checks("minhash.found_pairs")(c.raw("minhash").asInstanceOf[Seq[Row]].nonEmpty)
    c.checks("bpe.bounds") {
      val (words, toks) = c.raw("bpe").asInstanceOf[(Long, Long)]
      val chars = texts.values.map(_.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty).map(_.length).sum).sum
      words == texts.values.map(_.split("[ \t\n\u000B\f\r]+").count(_.nonEmpty)).sum &&
        toks >= words && toks < chars
    }
    val vecs = spark.read.parquet(s"${c.dataDir}/embeddings.parquet").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    c.checks("pq.codes") {
      val dsub = 64 / books.length
      c.raw("pq").asInstanceOf[Seq[(Long, Seq[Long])]].forall { case (id, codes) =>
        val v = vecs(id)
        codes.indices.forall { j =>
          val x = v.slice(j * dsub, (j + 1) * dsub)
          val d = books(j).map(cent => cent.indices.map(i => (x(i) - cent(i)) * (x(i) - cent(i))).sum)
          math.abs(d(codes(j).toInt) - d.min) < 1e-6
        }
      }
    }
    c.raw("exact").asInstanceOf[DataFrame]
      .write.mode("overwrite").parquet(s"${c.outDir}/exact.parquet")
    Claims.write(c, Nil)
  }
}

/** Fixed-point driver loops: pageRank over the string-id
  * customer↔supplier graph, connected components over a near-dup edge
  * set, k-means and logistic-regression training; plus the median and
  * skewness terminals over the ranks, which keep the core layer in the
  * two workloads the benchmark contract runs. */
object Iterate extends Workload {
  val name = "iterate"

  def generate(c: Ctx): Unit = {
    val nOrders = c.n(2000)
    write(c, "orders", Gen.orders(c.spark, nOrders, math.max(4L, nOrders / 10), c.seed))
    write(c, "lineitem", Gen.orderLines(c.spark, nOrders * 4, math.max(4L, nOrders / 60), c.seed))
    write(c, "edges", Gen.edges(c.spark, c.n(2000), c.seed))
    write(c, "embeddings", Gen.embeddings(c.spark, c.n(1000), 16, c.seed))
    write(c, "documents", Gen.documents(c.spark, c.n(400), c.seed))
    c.rows = rowsOf(c, "orders", "lineitem", "edges", "embeddings", "documents")
  }

  def pass(c: Ctx): Map[String, Out] = {
    val spark = c.spark
    import spark.implicits._
    val o = c.table("orders")
    val l = c.table("lineitem")
    val edges = c.table("edges")
    val emb = c.table("embeddings")
    val docs = c.table("documents")
    val e0 = o.join(l, o("o_orderkey") === l("l_orderkey"))
    val out = mutable.LinkedHashMap.empty[String, Out]
    def ranks(df: DataFrame): Seq[(String, Double)] =
      df.collect().map(r => (r.get(0).toString, r.getDouble(1))).sortBy(_._1).toSeq
    var rankFrame: DataFrame = null
    out("pagerank") = c.step("operators", "Graph", "pageRank") {
      val e = e0.select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      c.t.rounds(2)
      Graph.pageRank(e.union(e.select(col("dst").as("src"), col("src").as("dst"))), iters = 2)
    } { df =>
      rankFrame = df
      val rs = ranks(df); c.keepRaw("pagerank", rs); Out(rs.map(_._1).mkString(","), rs.map(_._2))
    }
    // the result is an eager checkpoint, so indexing it re-reads its blocks
    val rankStream = c.t.span("sources", "Readers", "indexed", "build") {
      Readers.indexed[Double](rankFrame, col("rank"), Seq(col("id")))
    }
    out("rank_median") = c.terminal("core", "Terminals", "median") {
      val v = rankStream.toStatistics.median; c.keepRaw("rank_median", v); Out("", Seq(v))
    }
    out("rank_skewness") = c.terminal("core", "Terminals", "skewness") {
      val v = rankStream.toStatistics.skewness; c.keepRaw("rank_skewness", v); Out("", Seq(v))
    }
    out("cc") = c.step("operators", "Dedup", "connectedComponentsWithStats") {
      val (labels, rounds, converged) = Dedup.connectedComponentsWithStats(edges, "a", "b")
      c.t.rounds(rounds)
      System.err.println(s"[layerbench] connected components: $rounds rounds")
      (labels, converged)
    } { case (labels, converged) =>
      val ls = labels.select(col("id").cast("long"), col("label").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      c.keepRaw("cc", ls)
      Out(s"$converged;" + ls.mkString(","))
    }
    out("kmeans") = c.step("operators", "Similarity", "kmeansIterate") {
      c.t.rounds(2)
      Similarity.kmeansIterate(emb, "vec_id", "embedding", 8, maxIter = 2)
    } { df =>
      val rs = df.collect().map(r => (r.get(0).toString, r.get(1).toString, r.get(2).toString,
        r.getDouble(3))).sortBy(r => (r._1, r._2)).toSeq
      Out(rs.map(r => s"${r._1}:${r._2}:${r._3}").mkString(","), rs.map(_._4))
    }
    out("logistic") = c.step("operators", "Classifier", "logisticTrain") {
      c.t.rounds(1)
      Classifier.logisticTrain(docs, "doc_id", "text", col("lang") === "en", iters = 1, lr = 0.5)
    } { case (w, b) => Out(w.length.toString, w.toSeq :+ b) }
    out.toMap
  }

  def verify(c: Ctx): Unit = {
    val str = c.raw("pagerank").asInstanceOf[Seq[(String, Double)]]
    c.checks("cc.union_find") {
      val es = c.spark.read.parquet(s"${c.dataDir}/edges.parquet").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- es) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // union by min keeps every root the minimum id of its component
      val ref = parent.keys.toSeq.sorted.map(k => (k, find(k)))
      ref == c.raw("cc").asInstanceOf[Seq[(Long, Long)]]
    }
    val spark = c.spark
    import spark.implicits._
    str.toDF("node", "rank").write.mode("overwrite").parquet(s"${c.outDir}/pagerank.parquet")
    Claims.write(c, Seq(
      "rank_median" -> Claims.num(c.raw("rank_median")),
      "rank_skewness" -> Claims.num(c.raw("rank_skewness"))))
  }
}

/** Closed loop with one client: each micro-batch is pushed only after the
  * previous one committed. Exact dedup under an event-time watermark,
  * then MinHash-LSH near-dup candidates (no TTL), on the RocksDB store. */
object StreamIngest extends Workload {
  val name = "stream_ingest"
  val batchRows = 20
  private var docs: Seq[(Long, String)] = Nil
  private var queryNo = 0

  def generate(c: Ctx): Unit =
    write(c, "documents", Gen.documents(c.spark, c.n(80), c.seed))

  override def prepare(c: Ctx): Unit =
    docs = c.spark.read.parquet(s"${c.dataDir}/documents.parquet").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  /** Push `rows` through a fresh query, one batch at a time. Returns what
    * the sink received. */
  private def replay[T](c: Ctx, fn: String, rows: Seq[T],
                        mem: GraftColumnShim.MemStream[T],
                        query: org.apache.spark.sql.streaming.DataStreamWriter[Row]): Seq[Row] = {
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    queryNo += 1
    val q = c.t.span("streaming", "StreamOps", fn, "build") {
      query.option("checkpointLocation", s"${c.outDir}/stream-ckpt/$queryNo")
        .foreachBatch((d: org.apache.spark.sql.Dataset[Row], _: Long) => {
          d.collect().foreach(sink.add); ()
        }).start()
    }
    try {
      for ((slice, i) <- rows.grouped(batchRows).zipWithIndex) {
        val s0 = c.t.nowMs
        c.t.span("streaming", "StreamOps", fn, "batch") {
          mem.addData(slice)
          q.processAllAvailable()
          // the progress of batch i is reported right after its commit
          var p = q.lastProgress
          val deadline = System.nanoTime() + 5000000000L
          while ((p == null || p.batchId < i) && System.nanoTime() < deadline) {
            Thread.sleep(1); p = q.lastProgress
          }
          require(p != null && p.batchId == i, s"$fn: no progress for batch $i (last ${Option(p).map(_.batchId)})")
          trigger(c, p)
        }
        c.steps += c.t.nowMs - s0
        if (i % 10 == 0) System.err.println(f"[layerbench] pass ${c.t.pass} $fn batch $i ${c.steps.last}%.1f ms")
      }
    } finally c.t.span("streaming", "StreamOps", fn, "run")(q.stop())
    c.rows += rows.size
    sink.toArray(Array.empty[Row]).toSeq
  }

  private def trigger(c: Ctx, p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    // an idle trigger that began polling just before the push reports its
    // own start; the batch's work starts at the push
    val batch = c.t.spans.last
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val ops = p.stateOperators.toSeq
    c.t.addTrigger(TriggerRec(batch.id, math.max(start, batch.startMs),
      math.max(start, batch.startMs) + d("triggerExecution"),
      d("addBatch"), d("queryPlanning"), d("commitOffsets") + d("walCommit"),
      ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsUpdated).sum))
  }

  def pass(c: Ctx): Map[String, Out] = {
    val spark = c.spark
    import spark.implicits._
    c.rows = 0
    val stamped = docs.zipWithIndex.map { case ((id, text), i) => (id, text, (i / batchRows).toLong) }
    val dm = GraftColumnShim.memoryStream[(Long, String, Long)](spark)
    val survivors = replay(c, "streamingDedup", stamped, dm,
      StreamOps.streamingDedup(
        dm.toDF().toDF("doc_id", "text", "b")
          .select(col("doc_id"), md5(col("text")).as("digest"),
            timestamp_seconds(col("b") + lit(1700000000L)).as("ts")),
        Seq("digest"), "ts", "1 hour").select("doc_id", "digest").writeStream)
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val nm = GraftColumnShim.memoryStream[(Long, String)](spark)
    val cands = replay(c, "streamingNearDupCandidates", docs, nm,
      StreamOps.streamingNearDupCandidates(nm.toDS(), ttl = None).toDF().writeStream)
      .map(r => (r.getLong(0), r.getLong(1))).distinct.sorted
    c.keepRaw("survivors", survivors)
    c.keepRaw("candidates", cands)
    Map("survivors" -> Out.rows(survivors.map(_._1)), "candidates" -> Out.rows(cands))
  }

  def verify(c: Ctx): Unit = {
    val df = c.spark.read.parquet(s"${c.dataDir}/documents.parquet")
    val groups = Dedup.exact(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = c.raw("survivors").asInstanceOf[Seq[(Long, String)]]
    c.checks("stream.exact_survivors") {
      survivors.map(s => groups(s._1)).sorted == groups.values.toSeq.distinct.sorted
    }
    val batch = Dedup.lshCandidates(Dedup.lshBands(
      Dedup.minhashSignature(df, "doc_id", "text", 3, 12), 4, 3)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = c.raw("candidates").asInstanceOf[Seq[(Long, Long)]]
    c.checks("stream.neardup_candidates") {
      cands.forall { case (dup, first) => batch((first, dup)) } &&
        cands.map(_._1).toSet == batch.map(_._2)
    }
    Claims.write(c, Nil)
  }
}

/** Values the DuckDB reference checks compare against, as JSON. */
object Claims {
  def num(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }
  def rows(rs: Seq[Seq[Any]]): String = rs.map(_.map(num).mkString("[", ",", "]")).mkString("[", ",", "]")
  def write(c: Ctx, kv: Seq[(String, String)]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${c.outDir}/claims.json"),
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
}
