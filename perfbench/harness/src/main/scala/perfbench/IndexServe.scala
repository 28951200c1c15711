package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.streaming.{IncrementalLexIndex, IncrementalPqIndex}
import graft.text.Text

/**
 * `index_serve`: the hybrid ingest+serve loop. Seeded documents
 * (Zipf-vocabulary text plus clustered embeddings) are ingested in
 * fixed [[EpochDocs]]-document epochs into both
 * [[IncrementalLexIndex]] and [[IncrementalPqIndex]] (codebooks trained
 * once in setup with Ann.kmeansCentroids / Ann.pqTrainCodebook). After
 * every measured epoch [[Rounds]] hybrid serves run, each one keyword
 * `serveMulti` plus one vector-probe serve; one hybrid serve is one
 * latency sample. The epoch count is fixed by `--seconds`, so every
 * run with the same `--seconds` does the same work.
 */
final class IndexServe(spark: SparkSession, gen: Gen, trace: Trace, out: Out,
    work: File, seconds: Double) {
  import Util._

  private val EpochDocs = 500
  private val Vocab = 5000
  private val Words = 40
  private val Dim = 32
  private val Clusters = 16
  private val M = 8
  private val Codes = 16
  private val TrainDocs = 500
  private val K = 10
  private val Rerank = 20
  private val NProbe = 2
  private val Rounds = 4
  private val QueriesPerServe = 4
  private val SetupReps = 3
  private val ProbeIdBase = 1000000000L
  // a compaction tick after every second epoch (epochs 1, 3, ...): at
  // the usual run size the one measured epoch pays one
  private val CompactEvery = 2

  // epoch 0 is an untimed warm-up (the JVM's first compile of every
  // plan); the rest are measured
  private val epochs = 1 + math.max(1, (seconds / 10).toInt)

  private def docs(out: String, firstId: Long, n: Int): Unit =
    gen("cmd" -> str("docs"), "out" -> str(out), "first_id" -> num(firstId),
      "n" -> num(n), "vocab" -> num(Vocab), "words" -> num(Words),
      "dim" -> num(Dim), "clusters" -> num(Clusters))

  private def vectors(df: DataFrame): DataFrame =
    df.select(col("doc_id").as("vec_id"), col("embedding"))

  private final class Rig(val lex: IncrementalLexIndex, val pq: IncrementalPqIndex,
      val cents: DataFrame, val cb: DataFrame)

  private def setupOnce(i: Int, train: String): (Rig, Double) = {
    val dir = new File(work, s"index/s$i")
    deleteTree(dir)
    val t0 = System.nanoTime()
    val sample = vectors(spark.read.parquet(train))
    val cents = Ann.pinTiny(Ann.kmeansCentroids(sample, Clusters, iters = 2)
      .select(col("cluster").cast("long").as("cent_id"), col("c").as("ce")))
    val cb = Ann.pinTiny(Ann.pqTrainCodebook(Ann.pqSubvectors(sample, M), Codes))
    val lex = new IncrementalLexIndex(spark, path(dir, "lex"), name = "benchlex",
      compactEvery = CompactEvery)
    val pq = new IncrementalPqIndex(spark, path(dir, "pq"), cents, cb, m = M,
      name = "benchpq", compactEvery = CompactEvery)
    (new Rig(lex, pq, cents, cb), ms(t0))
  }

  def run(): Unit = {
    val inputs = new File(work, "index/inputs")
    val train = path(inputs, "train.parquet")
    docs(train, 0L, TrainDocs)
    val epochFiles = (0 until epochs).map { e =>
      val f = path(inputs, s"e$e.parquet")
      docs(f, e.toLong * EpochDocs, EpochDocs)
      f
    }
    out.phase("inputs")
    val rig = (0 until SetupReps).map { i =>
      val (r, t) = setupOnce(i, train)
      out.add("setup_s", t / 1000.0)
      r
    }.last
    out.phase("setup")

    // fixed serve inputs, drawn from the seeded generator's outputs: the
    // keyword sets from the training sample's words (mid-frequency
    // terms occur in most epochs), the probes from its vectors
    val sample = spark.read.parquet(train).orderBy(col("doc_id")).collect()
    val words = sample.flatMap(_.getAs[String]("text").split(" ")).groupBy(identity)
      .toSeq.map { case (w, ws) => (w, ws.length) }.sortBy(t => (-t._2, t._1)).map(_._1)
    val mid = words.slice(5, 400)
    val keywordSets = (0 until Rounds).map { r =>
      (0 until QueriesPerServe).map { q =>
        s"q$r.$q" -> (0 to (q % 2) + 1).map(j => mid((r * 97 + q * 31 + j * 13) % mid.length))
      }
    }
    val probeSets = (0 until Rounds).map { r =>
      val rows = (0 until QueriesPerServe).map(q => sample(r * QueriesPerServe + q))
      Ann.pinTiny(spark.createDataFrame(
        java.util.Arrays.asList(rows.map(x => Row(ProbeIdBase + x.getAs[Long]("doc_id"),
          x.getAs[Seq[Float]]("embedding"))): _*),
        vectors(spark.read.parquet(train)).schema))
    }

    def rewritten: Double =
      rig.lex.health("rewriteBytesTotal") + rig.pq.health("rewriteBytesTotal")
    var lastLex: Seq[Row] = Nil
    var lastPq: Seq[Row] = Nil
    var rewrittenBefore = 0.0
    var t0 = System.nanoTime()
    epochFiles.zipWithIndex.foreach { case (f, e) =>
      val measured = e > 0
      if (e == 1) {
        out.phase("warm-up")
        if (trace.enabled) rewrittenBefore = rewritten
        trace.begin()
        t0 = System.nanoTime()
      }
      val batch = spark.read.parquet(f)
      val (_, ingest) = timed {
        trace.span("index.lex_append")(
          rig.lex.appendEpoch(batch.select(col("doc_id"), col("text")), e.toLong))
        trace.span("index.pq_append")(rig.pq.appendEpoch(vectors(batch), e.toLong))
      }
      if (measured) out.add("ingest_ms", ingest)
      // the warm-up epoch serves nothing; the median of a measured
      // epoch's rounds is robust to its first serves' compiles
      (0 until (if (measured) Rounds else 0)).foreach { r =>
        val (_, t) = timed {
          lastLex = trace.span("index.lex_serve")(
            rig.lex.serveMulti(keywordSets(r), K).collect().toSeq)
          lastPq = trace.span("index.pq_serve")(
            rig.pq.serve(probeSets(r), K, NProbe, Rerank).collect().toSeq)
        }
        if (measured) out.add("serve_ms", t)
      }
    }
    val elapsed = ms(t0)
    out.phase("loop")
    trace.end(out, units = epochs - 1)
    out.set("docs_per_s", (epochs - 1) * EpochDocs / (elapsed / 1000.0))
    out.countOps(epochs.toLong + 2 * (epochs - 1) * Rounds, 0)
    out.set("layer:gen.events", (TrainDocs + epochs * EpochDocs).toDouble)
    trace.spanSamples(out,
      "index.lex_append" -> "streaming.index.lex_append_ms",
      "index.pq_append" -> "streaming.index.pq_append_ms",
      "index.lex_serve" -> "streaming.index.lex_serve_ms",
      "index.pq_serve" -> "streaming.index.pq_serve_ms")
    if (trace.enabled) {
      out.set("layer:streaming.index.store_files",
        (rig.lex.postingsFileCount() + rig.pq.cellFileCount()).toDouble)
      out.set("layer:streaming.index.rewrite_bytes",
        (rewritten - rewrittenBefore) / (epochs - 1))
    }

    // the final round's serves against the batch definitions over the
    // ingested prefix, which both index classes document as
    // bit-identical
    val prefix = epochFiles.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val docsText = prefix.select(col("doc_id"), col("text"))
    val oracle = keywordSets.last.map { case (qid, terms) =>
      Text.bm25TopK(docsText, terms, K).withColumn("query_id", lit(qid))
    }.reduce(_ unionByName _).collect()
    keywordSets.last.foreach { case (qid, _) =>
      val want = oracle.filter(_.getAs[String]("query_id") == qid)
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._2)
      val got = lastLex.filter(_.getString(0) == qid)
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._2)
      out.countOps(1, if (got == want) 0 else 1)
      out.check(s"lex_serve_$qid", got == want && got.nonEmpty,
        s"${got.size} rows served, ${want.size} expected")
    }
    val want = pqOracle(rig, vectors(prefix), probeSets.last)
    val got = lastPq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
      .sorted
    out.countOps(1, if (got == want) 0 else 1)
    out.check("pq_serve", got == want && got.nonEmpty,
      s"${got.size} rows served, ${want.size} expected")
  }

  /** ADC top-`Rerank` by Ann.ivfPqTopKWith (the offline encode plus
    * Ann.ivfPqSearchIndexed), then the exact-cosine re-rank to top K. */
  private def pqOracle(rig: Rig, corpus: DataFrame, probes: DataFrame)
      : Seq[(Long, Long, Long, Double)] = {
    val adc = Ann.ivfPqTopKWith(rig.cents, rig.cb, probes, corpus, M, Rerank, NProbe)
      .select(col("query_id"), col("cand_id"))
    val cv = corpus.select(col("vec_id").as("cand_id"),
        Ann.toDouble(col("embedding")).as("cv"))
      .withColumn("cn", Ann.norm(col("cv")))
    val qv = probes.select(col("vec_id").as("query_id"),
        Ann.toDouble(col("embedding")).as("qv"))
      .withColumn("qn", Ann.norm(col("qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    adc.join(cv, Seq("cand_id")).join(qv, Seq("query_id"))
      .withColumn("cos", round(Ann.cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("cand_id"), col("rank"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
  }
}
