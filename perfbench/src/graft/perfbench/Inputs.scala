package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Everything a workload reads is made here,
  * before set-up starts, from `--seed` alone: the same seed gives the
  * same bytes. */
object Inputs {

  // ---- lake_detect: dirty/clean golden pairs -----------------------------

  /** `measure` is the money column of the table; on the fact table
    * (`outliers`) the outlier detector fits it. `quantities` are
    * integer counts that can take a unit suffix. */
  final case class LakeTable(name: String, key: String, cols: Seq[String],
      measure: String, outliers: Boolean, quantities: Seq[String],
      clean: Array[Array[String]])

  /** What the lake generator planted: the exact error cells, keyed
    * (row id, column) — column names are unique across the lake. */
  final case class Lake(dir: File, tables: Seq[LakeTable],
      dirty: Map[String, Array[Array[String]]], truth: Set[(Long, String)]) {
    def cells: Long = tables.map(t => t.clean.length.toLong * t.cols.size).sum
    def rows: Long = tables.map(_.clean.length.toLong).sum
  }

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private def money(r: Random, lo: Double, hi: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f",
      Double.box(lo + r.nextInt(((hi - lo) * 100).toInt + 1) / 100.0))
  private def date(r: Random): String =
    java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2400).toLong).toString
  private def phone(r: Random): String =
    f"${10 + r.nextInt(25)}%02d-${100 + r.nextInt(900)}%03d-" +
      f"${100 + r.nextInt(900)}%03d-${1000 + r.nextInt(9000)}%04d"
  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** The orders, lineitem and customer tables with `lineitems`
    * lineitem rows and the sf-proportional sizes of the rest (the part
    * and supplier keys are plain integer columns); every table's first
    * column is a unique integer key. Value ranges are chosen so that whether a
    * column is unique (a rule the profile can derive) does not depend
    * on the seed: keys, names and phones always are, the rest never. */
  def lakeTables(r: Random, lineitems: Int): Seq[LakeTable] = {
    val nO = lineitems / 4
    val nC = math.max(lineitems / 40, 50)
    val nP = lineitems / 30
    val nS = lineitems / 600
    def table(name: String, cols: Seq[String], measure: String,
        quantities: Seq[String], n: Int)(row: Int => Seq[String]): LakeTable =
      LakeTable(name, cols.head, cols, measure,
        name == "lineitem", quantities,
        Array.tabulate(n)(i => (i.toString +: row(i)).toArray))
    Seq(
      table("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority"),
          "o_totalprice", Nil, nO) { _ =>
        Seq(r.nextInt(nC).toString, pick(r, Seq("O", "F", "P")),
          money(r, 900, 3000), date(r), pick(r, priorities))
      },
      table("lineitem", Seq("l_lineid", "l_orderkey", "l_partkey",
          "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
          "l_extendedprice", Seq("l_quantity"), lineitems) { _ =>
        Seq(r.nextInt(nO).toString, r.nextInt(nP).toString,
          r.nextInt(nS).toString, (1 + r.nextInt(7)).toString,
          (1 + r.nextInt(50)).toString, money(r, 900, 20000),
          money(r, 0, 0.1), money(r, 0, 0.08), pick(r, Seq("A", "N", "R")),
          pick(r, Seq("O", "F")), date(r))
      },
      table("customer", Seq("c_custkey", "c_name", "c_nationkey",
          "c_acctbal", "c_mktsegment", "c_phone"), "c_acctbal", Nil, nC) { i =>
        Seq(f"Customer#$i%09d", r.nextInt(25).toString,
          money(r, 0, 49.99), pick(r, segments), phone(r))
      })
  }

  private val isDate = "\\d{4}-\\d{2}-\\d{2}".r
  private val isInt = "\\d+".r

  /** Plant the FIXTURES.md §1 error classes into a copy of `clean`:
    * `x`-for-`l` typos, `empty` placeholders, `12.0 oz`-style unit
    * suffixes, `N/A` noise, broken date formats, missing values and
    * shifted trailing columns. About `rate` of the rows get one error;
    * the key column is never touched. */
  def plant(r: Random, t: LakeTable, rate: Double): Array[Array[String]] = {
    val dirty = t.clean.map(_.clone())
    val n = dirty.length
    val hits = math.max(1, (n * rate).toInt)
    val rows = r.shuffle((0 until n).toVector).take(hits)
    val ncol = t.cols.size
    rows.foreach { i =>
      val row = dirty(i)
      def cols(p: String => Boolean): Seq[Int] = (1 until ncol).filter(j => p(row(j)))
      def one(cands: Seq[Int])(edit: String => String): Boolean =
        if (cands.isEmpty) false
        else { val j = pick(r, cands); row(j) = edit(row(j)); true }
      val quantityIdx = t.quantities.map(t.cols.indexOf)
      val numericIdx = t.cols.indexOf(t.measure) +: quantityIdx
      val done = r.nextInt(7) match {
        case 0 => one(cols(v => v.exists(c => c == 'l' || c == 'L'))) { v =>
            val at = v.indices.filter(k => v(k) == 'l' || v(k) == 'L')
            val k = pick(r, at)
            v.updated(k, if (v(k) == 'l') 'x' else 'X')
          }
        case 1 => one(cols(v => v.exists(_.isLetter) && v != "empty"))(_ => "empty")
        case 2 => one(cols(v => isInt.matches(v)).filter(quantityIdx.contains))(_ + ".0 oz")
        case 3 => one(numericIdx)(_ => "N/A")
        case 4 => one(cols(v => isDate.matches(v))) { v =>
            val Array(y, m, d) = v.split("-"); s"$m/$d/$y"
          }
        case 5 => false // falls through to a missing value below
        case _ =>
          // shifted trailing columns: from column j on, every value
          // moves one to the right and the last one is lost
          val j = 1 + r.nextInt(ncol - 2)
          var k = ncol - 1
          while (k > j) { row(k) = row(k - 1); k -= 1 }
          row(j) = ""
          true
      }
      if (!done) one(1 until ncol)(_ => "")
    }
    dirty
  }

  /** Write `<dir>/<table>/{clean,dirty}.csv` (the layout
    * `Ingest.discoverLake` reads) and `<dir>/truth.tsv`. The truth is
    * the set of cells whose dirty string differs from the clean one —
    * exactly what a correct `Metrics.actualErrorCells` must return. */
  def lake(dir: File, seed: Long, lineitems: Int, rate: Double): Lake = {
    val r = new Random(seed)
    val tables = lakeTables(r, lineitems)
    val truth = mutable.Set.empty[(Long, String)]
    val dirties = tables.map { t =>
      val dirty = plant(r, t, rate)
      val td = new File(dir, t.name)
      td.mkdirs()
      writeCsv(new File(td, "clean.csv"), t.cols, t.clean)
      writeCsv(new File(td, "dirty.csv"), t.cols, dirty)
      t.clean.indices.foreach { i =>
        (1 until t.cols.size).foreach { j =>
          if (t.clean(i)(j) != dirty(i)(j)) truth += ((i.toLong, t.cols(j)))
        }
      }
      t.name -> dirty
    }
    val w = new PrintWriter(new File(dir, "truth.tsv"), "UTF-8")
    try truth.toSeq.sorted.foreach { case (id, c) => w.println(s"$id\t$c") }
    finally w.close()
    Lake(dir, tables, dirties.toMap, truth.toSet)
  }

  def writeCsv(f: File, header: Seq[String],
      rows: Array[Array[String]]): Unit = {
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(new java.io.FileOutputStream(f), "UTF-8"),
      1 << 16)
    try {
      w.write(header.mkString(",")); w.write('\n')
      rows.foreach { row => w.write(row.mkString(",")); w.write('\n') }
    } finally w.close()
  }

  // ---- documents: corpus_fold ----------------------------

  final case class Doc(id: Long, lang: String, text: String)

  private val vocab: IndexedSeq[String] = (
    "a the data table row column value key join scan sort merge hash filter " +
    "group order batch stream window query spark part line customer vector " +
    "fast slow small big agg index cache page block file disk memory shard " +
    "node task stage plan cost rule check clean dirty error cell field " +
    "record schema type pattern range limit count sum mean median score rank " +
    "term token text word doc corpus crawl dump fold state store log event " +
    "time date source sink gate model train test split sample weight bucket " +
    "band sketch bloom bit set map list tree graph edge path root leaf label " +
    "cluster profile report metric trace span layer kernel codegen build run"
  ).split(" ").toIndexedSeq
  private val langs = Seq("en" -> 45, "zh" -> 15, "es" -> 14, "de" -> 14,
    "fr" -> 12)

  def randomDoc(r: Random, id: Long): Doc = {
    val words = 40 + r.nextInt(50)
    val text = Iterator.fill(words)(vocab(r.nextInt(vocab.size))).mkString(" ")
    val roll = r.nextInt(100)
    val lang = langs.scanLeft(("", 0)) { case ((_, acc), (l, w)) => (l, acc + w) }
      .tail.find(_._2 > roll).get._1
    Doc(id, lang, text)
  }

  /** `text` with `k` words replaced — a near duplicate whose word
    * 3-shingle Jaccard to the original stays well above 0.5. */
  def nearCopy(r: Random, text: String, k: Int): String = {
    val ws = text.split(" ")
    (0 until k).foreach { _ => ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.size)) }
    ws.mkString(" ")
  }

  /** The l8 revision suffix: raises the quality score, so keep-best
    * evicts the stored copy in favour of the re-crawl. */
  val Revision = " revised edition with improved prose quality."

  /** One between-dumps cycle: a dump to fold, then ids to take down.
    * `pairs` are the planted (original, duplicate) id pairs the dump
    * introduces; each is resolved once exactly one side survives
    * curation. */
  final case class Cycle(dump: Seq[Doc], takedown: Seq[Long],
      pairs: Seq[(Long, Long)])

  final case class Corpus(base: Seq[Doc], cycles: Seq[Cycle])

  /** A base corpus of `n0` documents and `cycles` dumps. Each dump has
    * `fresh` new documents plus the l8 duplicate kinds: exact re-crawls
    * of stored documents, revised re-crawls, near-duplicate re-crawls
    * and within-dump copies. Takedowns and re-crawls pick from "plain"
    * stored documents (in no planted pair), so every planted pair keeps
    * both of its sides until curation decides. */
  def corpus(seed: Long, n0: Int, cycles: Int, fresh: Int, exact: Int,
      revised: Int, near: Int, within: Int, takedown: Int): Corpus = {
    val r = new Random(seed)
    val base = (0 until n0).map(i => randomDoc(r, i.toLong))
    val text = mutable.HashMap.empty[Long, String]
    base.foreach(d => text(d.id) = d.text)
    // plain stored documents, in insertion order for reproducible picks
    val plain = mutable.LinkedHashSet.empty[Long] ++= base.map(_.id)
    var next = n0.toLong
    def takePlain(k: Int): Seq[Long] = {
      val all = plain.toIndexedSeq
      val picked = r.shuffle(all.indices.toVector).take(k).map(all)
      plain --= picked
      picked
    }
    val cs = (0 until cycles).map { _ =>
      val freshDocs = (0 until fresh).map { _ => next += 1; randomDoc(r, next) }
      def recrawl(ids: Seq[Long])(edit: String => String): Seq[Doc] =
        ids.map { o => next += 1; randomDoc(r, next).copy(text = edit(text(o))) }
      val exactIds = takePlain(exact)
      val revIds = takePlain(revised)
      val nearIds = takePlain(near)
      val exactDocs = recrawl(exactIds)(identity)
      val revDocs = recrawl(revIds)(_ + Revision)
      val nearDocs = recrawl(nearIds)(t => nearCopy(r, t, 2))
      val withinSrc = r.shuffle(freshDocs.toVector).take(within)
      val withinDocs = withinSrc.map { d => next += 1; d.copy(id = next) }
      val dump = r.shuffle(freshDocs ++ exactDocs ++ revDocs ++ nearDocs ++ withinDocs)
      val pairs = exactIds.zip(exactDocs.map(_.id)) ++ revIds.zip(revDocs.map(_.id)) ++
        nearIds.zip(nearDocs.map(_.id)) ++ withinSrc.map(_.id).zip(withinDocs.map(_.id))
      // what enters the store: fresh docs except those copied within the
      // dump, and the revised/near re-crawls (exact copies are dropped)
      (freshDocs ++ revDocs ++ nearDocs).foreach(d => text(d.id) = d.text)
      plain ++= freshDocs.map(_.id).filterNot(withinSrc.map(_.id).toSet)
      val gone = takePlain(takedown)
      Cycle(dump, gone, pairs)
    }
    Corpus(base, cs)
  }
}
