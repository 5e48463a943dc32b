package layerbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GenScale

/** Seeded inputs for the four workloads.
  *
  * GenScale's generators are seedless (every value derives from the row
  * id), so each table here salts the row id with a seed-derived stream
  * before calling GenScale's public primitives (`mix`, `unif`,
  * `docText`). The same (seed, size) always yields byte-identical
  * tables; another seed yields another draw from the same distribution.
  * Row counts scale linearly with `scale` (1.0 = the benchmark sizes). */
object Gen {

  /** Independent 64-bit salt for one (seed, table) stream. */
  def salt(seed: Long, stream: Long): Long = GenScale.mix(GenScale.mix(seed) ^ stream)

  def u(salt: Long, id: Long, stream: Long): Double = GenScale.unif(salt ^ id, stream)

  /** lineitem-shaped rows: 4 lines per order, TPC-H-like quantity/price. */
  def lineitem(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val s = salt(seed, 1)
    val nSupp = math.max(10L, n / 400)
    spark.range(n).map { boxed =>
      val id: Long = boxed
      val qty = 1 + (u(s, id, 9) * 50).toInt
      val price = math.round(qty * (900.0 + u(s, id, 10) * 1100.0) * 100.0) / 100.0
      val flag = "ANR".charAt((u(s, id, 11) * 3).toInt).toString
      (id / 4, (id % 4 + 1).toInt, (u(s, id, 8) * nSupp).toLong, qty.toDouble, price, flag)
    }.toDF("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity", "l_extendedprice",
      "l_returnflag")
  }

  /** Events: 16 keys, timestamps strictly increasing per key, small values. */
  def events(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val s = salt(seed, 2)
    spark.range(n).map { boxed =>
      val id: Long = boxed
      val key = f"g${(u(s, id, 1) * 16).toInt}%02d"
      (id, key, id * 10 + (u(s, id, 2) * 9).toLong, 1 + (u(s, id, 3) * 99).toLong)
    }.toDF("e_id", "e_key", "e_ts", "e_value")
  }

  /** Natural-vocab documents (GenScale.docText, natural = true) with:
    * ~0.5% exact copies of an earlier document, ~6% near-copies (the
    * donor's text plus one appended token), ~5% carrying an e-mail, a
    * phone number and a Luhn-valid card number, and ~3% carrying
    * decomposed (non-NFC) accents. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val s = salt(seed, 3)
    spark.range(n).map { boxed =>
      val id: Long = boxed
      val base =
        if (id % 199 == 7) GenScale.docText(s + id % 97, natural = true)
        else if (id % 17 == 5 && id > 17) GenScale.docText(s + id - 17, natural = true) + " addendum"
        else GenScale.docText(s + id, natural = true)
      val pii = if (u(s, id, 4) < 0.05)
        s" contact user$id@example.com or 555-123-${1000 + id % 9000} card 4111 1111 1111 1111"
      else ""
      val accent = if (u(s, id, 5) < 0.03) " café résumé" else ""
      val text = base + pii + accent
      val lang = if (u(s, id, 6) < 0.7) "en" else "de"
      (id, text, lang)
    }.toDF("doc_id", "text", "lang")
  }

  /** Clustered float embeddings (GenScale.embeddings' shape, seeded
    * centers and noise), ~1% near-duplicate pairs. */
  def embeddings(spark: SparkSession, n: Long, dims: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val s = salt(seed, 4)
    val labels = 10
    val centers = Array.tabulate(labels, dims)((l, j) => ((u(s, l * 7919L + 3, j) - 0.5) * 2).toFloat)
    spark.range(n).map { boxed =>
      val id: Long = boxed
      val noiseId = if (id % 101 == 11) id - 1 else id
      val label = (u(s, noiseId, 6) * labels).toInt
      val v = Array.tabulate(dims) { j =>
        val jitter = if (noiseId != id) ((u(s, id * 31 + 17, j) - 0.5) * 0.04).toFloat else 0f
        centers(label)(j) * 0.8f + ((u(s, noiseId * 31 + 17, j) - 0.5) * 0.4).toFloat + jitter
      }
      (id, v.toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }

  /** orders(o_orderkey, o_custkey) for the customer↔supplier graph. */
  def orders(spark: SparkSession, n: Long, nCust: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val s = salt(seed, 5)
    spark.range(n).map(id => (id.toLong, (u(s, id, 7) * nCust).toLong))
      .toDF("o_orderkey", "o_custkey")
  }

  /** lineitem(l_orderkey, l_suppkey): 4 lines per order. */
  def orderLines(spark: SparkSession, n: Long, nSupp: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val s = salt(seed, 6)
    spark.range(n).map(id => (id.toLong / 4, (u(s, id, 8) * nSupp).toLong))
      .toDF("l_orderkey", "l_suppkey")
  }

  /** Near-dup edge set over `n` ids (rounded down to whole blocks of
    * 64): each id links to an id up to 20 positions back in its block
    * with probability 0.6, giving chains and small trees of varied
    * diameter (the shapes connected components must collapse). The block
    * shapes come from one fixed stream and the seed only orders them, so
    * every seed has the same components, with other ids, and connected
    * components runs the same number of rounds: with shapes drawn from
    * the seed it ran 3 rounds at some seeds and 4 at others, and the
    * pass's work changed with the seed. */
  def edges(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val shapes = salt(0, 7)
    val s = salt(seed, 7)
    val nBlocks = math.max(1L, n / 64)
    val shapeOf = (0L until nBlocks).sortBy(b => u(s, b, 3)).toArray
    spark.range(1, nBlocks * 64).flatMap { boxed =>
      val id: Long = boxed
      val (block, local) = (id / 64, id % 64)
      val t = shapeOf(block.toInt) * 64 + local
      val back = local - 1 - (u(shapes, t, 2) * 20).toLong
      if (local != 0 && u(shapes, t, 1) < 0.6) Seq((block * 64 + math.max(0L, back), id))
      else Seq.empty
    }.toDF("a", "b")
  }
}
