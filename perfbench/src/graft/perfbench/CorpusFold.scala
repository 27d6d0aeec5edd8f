package graft.perfbench

import java.io.File

import graft.dedup.{BloomDedup, Components, Dedup, Forget}
import graft.ops.CheckpointRotation.Ops
import graft.profile.Profiler
import graft.text.{Bm25, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** corpus_fold: the between-dumps curation loop over a stored corpus.
  * Set-up builds the stored state from the base corpus — Bloom bits,
  * LSH buckets, the near-dup pair set and its component map with
  * keep-best flags, the BM25 state and the profile state. One unit is
  * one cycle: a crawl dump is folded in (within-dump exact dedup, Bloom
  * probe + exact confirm, LSH near-dup pairs folded into the component
  * map, keep-best, BM25 / profile / Bloom folds), then a takedown batch
  * is propagated through the same states (`Forget.bm25`,
  * `Forget.components`, a negative profile fold, a Bloom rebuild). */
final class CorpusFold(work: File, seed: Long) extends Workload {
  // the l8 geometry: filter bits/probes, shingle size, minhash bands
  private val BloomM = 1 << 16
  private val BloomK = 5
  private val ShingleN = 3
  private val Perms = 16
  private val Band = 4
  private val Thr = 0.5

  private val BaseDocs = 5000
  private val Cycles = 20
  private val corpus = Inputs.corpus(seed, n0 = BaseDocs, cycles = Cycles,
    fresh = 200, exact = 20, revised = 10, near = 20, within = 10, takedown = 10)

  private var spark: SparkSession = _
  private def dumpPath(i: Int) = new File(work, s"dump-$i.csv").getPath
  private val basePath = new File(work, "base.csv").getPath
  private val survivorsPath = new File(work, "survivors.csv").getPath
  /** The folded state's fingerprints, for the gate after re-set-up. */
  private var folded: Option[(Map[String, (Long, Long)], Array[Boolean])] = None
  private val docSchema = "doc_id LONG, lang STRING, text STRING"
  private def read(path: String): DataFrame =
    spark.read.schema(docSchema).option("header", "true").csv(path)

  /** The stored state. Aggregated states (bits, pairs, components,
    * keep flags, BM25 df/totals, profile histogram) are materialized
    * each cycle; the document-grain logs (documents, content hashes,
    * LSH buckets, BM25 postings) are appended to and filtered by
    * takedowns, as unions and anti-joins over materialized pieces. */
  private final case class State(docs: DataFrame, hashes: DataFrame,
      bits: DataFrame, bitmap: Array[Boolean], buckets: DataFrame,
      pairs: DataFrame, comps: DataFrame, keep: DataFrame, bm: Bm25.State,
      prof: DataFrame)
  private var st: State = _
  private var cycles = 0

  /** The base corpus and each dump as a CSV file (texts hold no
    * commas or quotes). */
  def generate(): Unit = {
    def write(path: String, docs: Seq[Inputs.Doc]): Unit =
      Inputs.writeCsv(new File(path), Seq("doc_id", "lang", "text"),
        docs.map(d => Array(d.id.toString, d.lang, d.text)).toArray)
    write(basePath, corpus.base)
    corpus.cycles.zipWithIndex.foreach { case (c, i) => write(dumpPath(i), c.dump) }
  }

  def sizes: Seq[(String, Double)] = Seq(
    "base_docs" -> BaseDocs.toDouble,
    "docs_per_dump" -> corpus.cycles.head.dump.size.toDouble,
    "takedowns_per_cycle" -> corpus.cycles.head.takedown.size.toDouble,
    "planted_pairs_per_dump" -> corpus.cycles.head.pairs.size.toDouble)

  override def hasNext(i: Int): Boolean = i < Cycles

  private def ck(df: DataFrame): DataFrame = df.lockedCheckpoint()

  /** Candidate-first Jaccard verify of LSH candidate pairs over word
    * shingles of the documents they name (the l8 shape). */
  private def verify(cands: DataFrame, docs: DataFrame): DataFrame = {
    val ids = cands.select(explode(array(col("ida"), col("idb"))).as("doc_id")).distinct()
    val sh = ck(Dedup.wordShingles(docs.join(ids, Seq("doc_id"), "left_semi"),
      "text", "doc_id", ShingleN))
    val sz = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    cands
      .join(sh.select(col("id").as("ida"), col("shingle")), Seq("ida"))
      .join(sh.select(col("id").as("idb"), col("shingle")), Seq("idb", "shingle"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("common"))
      .join(sz.select(col("id").as("ida"), col("sz").as("sza")), "ida")
      .join(sz.select(col("id").as("idb"), col("sz").as("szb")), "idb")
      .filter(col("common").cast("double") /
        (col("sza") + col("szb") - col("common")).cast("double") >= Thr)
      .select("ida", "idb")
  }

  private def buckets(docs: DataFrame): DataFrame =
    Dedup.inlineLshBuckets(docs, "text", "doc_id", ShingleN, Perms, Band)
  /** The quality census of the documents in a near-dup component —
    * the only ones keep-best compares. */
  private def census(docs: DataFrame, comps: DataFrame): DataFrame =
    docs.join(comps.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("id"), TextAnalysis.qualityE4("text").as("q"))
  private def keepBest(comps: DataFrame, scores: DataFrame): DataFrame =
    ck(Components.keepBest(comps, scores, "id", "component_id", "q")
      .select("id", "component_id", "keep"))
  private def profState(docs: DataFrame): DataFrame =
    Profiler.incrementState(Seq("lake" -> docs.select("lang", "text")))
  private def bmState(docs: DataFrame): Bm25.State = {
    val s = Bm25.buildState(docs, "text", "doc_id")
    Bm25.State(ck(s.post), ck(s.dfreq), ck(s.sums))
  }

  /** Every state from scratch over `docs` — set-up, and the rebuild the
    * final gate compares the folded state against. */
  private def build(docs0: DataFrame): State = {
    val docs = ck(docs0)
    val bits = ck(BloomDedup.setBits(docs, "text", BloomM, BloomK))
    val bk = ck(buckets(docs))
    val pairs = ck(verify(Dedup.lshCandidates(bk), docs))
    val comps = ck(Components.adaptiveComponents(pairs, "ida", "idb"))
    State(docs, ck(docs.select(col("doc_id"), md5(col("text")).as("__h"))),
      bits, BloomDedup.bitmap(bits, BloomM), bk, pairs, comps,
      keepBest(comps, census(docs, comps)), bmState(docs), ck(profState(docs)))
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    cycles = 0
    // the first set-up builds from the base corpus; the later ones from
    // the corpus as the run's cycles left it, which the gate compares
    // with the folded state
    st = build(read(if (folded.isDefined) survivorsPath else basePath))
  }

  override def stateFrames: Seq[DataFrame] =
    if (st == null) Nil
    else Seq(st.docs, st.hashes, st.bits, st.buckets, st.pairs, st.comps,
      st.keep, st.bm.post, st.bm.dfreq, st.bm.sums, st.prof)

  def unit(i: Int, t: Tracer): UnitResult = {
    val cycle = corpus.cycles(i)
    val dump = read(dumpPath(i))
    // every id of a dump is above every stored id: a candidate pair
    // (ida < idb) is new exactly when idb is in this dump
    val firstNew = cycle.dump.map(_.id).min

    // ---- fold the dump
    val (d2, newBk, newPairs) = t.call("dedup") {
      val d1 = Dedup.dropExactDuplicates(dump, "text", "doc_id")
      val probed = ck(d1
        .withColumn("bloom_hit", BloomDedup.probeColumn(col("text"), st.bitmap, BloomM, BloomK))
        .withColumn("__h", md5(col("text"))))
      val confirmed = probed.filter(col("bloom_hit"))
        .join(st.hashes.select("__h"), Seq("__h"), "left_semi")
      if (t.tracing) {
        t.count("dedup.bloom_hits", probed.filter(col("bloom_hit")).count().toDouble)
        t.count("dedup.bloom_confirmed", confirmed.count().toDouble)
      }
      val d2 = ck(probed.join(confirmed.select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "text"))
      val newBk = ck(buckets(d2))
      val touched = st.buckets.join(newBk.select("band", "bucket").distinct(),
        Seq("band", "bucket"), "left_semi")
      val cands = ck(Dedup.lshCandidates(newBk.unionByName(touched))
        .filter(col("idb") >= firstNew))
      val newPairs = ck(verify(cands, st.docs.unionByName(d2)))
      if (t.tracing) {
        t.count("dedup.lsh_candidates", cands.count().toDouble)
        t.count("dedup.lsh_verified", newPairs.count().toDouble)
      }
      (d2, newBk, newPairs)
    }
    val comps = t.call("dedup") {
      ck(Components.incrementalComponents(st.comps, newPairs, "ida", "idb"))
    }
    val docs = st.docs.unionByName(d2)
    val bm = t.call("text") {
      val b = Bm25.foldState(st.bm, bmState(d2))
      b.copy(dfreq = ck(b.dfreq), sums = ck(b.sums))
    }
    val prof = t.call("profile") { ck(Profiler.mergeStates(Seq(st.prof, profState(d2)))) }
    val bits = t.call("dedup") {
      ck(BloomDedup.foldBits(st.bits, BloomDedup.setBits(d2, "text", BloomM, BloomK)))
    }
    val scores = t.force("text", census(docs, comps))
    st = State(docs,
      st.hashes.unionByName(d2.select(col("doc_id"), md5(col("text")).as("__h"))),
      bits, t.call("dedup") { BloomDedup.bitmap(bits, BloomM) },
      st.buckets.unionByName(newBk), ck(st.pairs.unionByName(newPairs)), comps,
      t.call("dedup") { keepBest(comps, scores) }, bm, prof)

    // ---- propagate the takedown batch
    val session = spark
    import session.implicits._
    val ids = cycle.takedown.toDF("id")
    def without(df: DataFrame, c: String): DataFrame =
      df.join(ids.select(col("id").as(c)), Seq(c), "left_anti")
    val gone = st.docs.join(ids.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
    val bm2 = t.call("text") {
      val b = Forget.bm25(st.bm, gone, "text", "doc_id")
      b.copy(dfreq = ck(b.dfreq), sums = ck(b.sums))
    }
    val (comps2, pairs2) = t.call("dedup") {
      (ck(Forget.components(st.comps, st.pairs, ids)),
        ck(without(without(st.pairs, "ida"), "idb")))
    }
    val prof2 = t.call("profile") {
      val neg = profState(gone).withColumn("cnt", -col("cnt"))
      ck(Profiler.mergeStates(Seq(st.prof, neg)).filter(col("cnt") =!= 0L))
    }
    val docs2 = without(st.docs, "doc_id")
    // set bits have no owner count: the filter is rebuilt over the
    // remaining corpus once per takedown batch
    val bits2 = t.call("dedup") { ck(BloomDedup.setBits(docs2, "text", BloomM, BloomK)) }
    val scores2 = t.force("text", census(docs2, comps2))
    st = State(docs2, without(st.hashes, "doc_id"), bits2,
      t.call("dedup") { BloomDedup.bitmap(bits2, BloomM) },
      without(st.buckets, "id"), pairs2, comps2,
      t.call("dedup") { keepBest(comps2, scores2) }, bm2, prof2)
    cycles = i + 1
    UnitResult(cycle.dump.size.toLong + cycle.takedown.size, ok = true)
  }

  /** Order-insensitive multiset fingerprint of a frame, as one row:
    * its count and the sum of its 32-bit row hashes. */
  private def fingerprint(name: String, df: DataFrame): DataFrame = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    df.agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(cols: _*).bitwiseAND(0xffffffffL)), lit(0L)).as("h"))
      .select(lit(name).as("state"), col("n"), col("h"))
  }

  private def prints(x: State): Map[String, (Long, Long)] =
    Seq("bloom bits" -> x.bits, "lsh buckets" -> x.buckets,
      "near-dup pairs" -> x.pairs, "component map" -> x.comps,
      "keep-best flags" -> x.keep, "bm25 postings" -> x.bm.post,
      "bm25 df" -> x.bm.dfreq, "bm25 totals" -> x.bm.sums,
      "profile state" -> x.prof)
      .map { case (k, df) => fingerprint(k, df) }.reduce(_.unionByName(_))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** The l8/l10 contract, once per run: the folded state equals the
    * state rebuilt from scratch over the surviving documents. The
    * rebuild is the later set-ups' (see [[setup]]); this records the
    * folded side and the survivors they build from. */
  override def finalCheck(): Boolean = {
    folded = Some((prints(st), st.bitmap))
    Inputs.writeCsv(new File(survivorsPath), Seq("doc_id", "lang", "text"),
      st.docs.select("doc_id", "lang", "text").collect()
        .map(r => Array(r.getLong(0).toString, r.getString(1), r.getString(2))))
    true
  }

  override def checkAfterSetups(): Boolean = folded.forall { case (a, bitmap) =>
    val b = prints(st)
    val bad = a.keys.filter(k => a(k) != b(k)).toSeq.sorted
    if (bad.nonEmpty)
      System.err.println(s"[perfbench] corpus_fold: folded state differs from the rebuild: ${bad.mkString(", ")}")
    bad.isEmpty && bitmap.sameElements(st.bitmap)
  }

  /** dup_recall: the share of planted duplicate pairs of the folded
    * dumps that curation resolved — exactly one side is in the release
    * (the stored documents minus those keep-best evicts). */
  def quality(): Double = {
    val planted = corpus.cycles.take(cycles).flatMap(_.pairs)
    if (planted.isEmpty) 0.0
    else {
      val session = spark
      import session.implicits._
      val ids = planted.flatMap { case (a, b) => Seq(a, b) }.toDF("doc_id")
      val evicted = st.keep.filter(!col("keep")).select(col("id").as("doc_id"))
      val released = st.docs.select("doc_id").join(ids, Seq("doc_id"), "left_semi")
        .join(evicted, Seq("doc_id"), "left_anti")
        .as[Long].collect().toSet
      planted.count { case (a, b) => released(a) != released(b) }.toDouble / planted.size
    }
  }
}
