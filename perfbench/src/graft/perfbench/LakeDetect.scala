package graft.perfbench

import java.io.File

import scala.collection.mutable

import graft.cluster.Clustering
import graft.eval.Metrics
import graft.ingest.Ingest
import graft.outlier.Outliers
import graft.pipeline.MultiTablePipeline
import graft.profile.{Profiler, ProfilerConfig}
import graft.rules.{RuleGenerator, ViolationScanner}
import graft.streaming.StreamingQuality
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** lake_detect: the paper's pipeline, one full pass per unit, over a
  * seeded dirty/clean lake of relational tables — ingest, profile the
  * clean side, cluster the columns, derive the shared rules, scan every
  * dirty table, enforce the fact table's scalar rules on its rows as
  * they arrive (one Structured Streaming micro-batch), flag robust
  * numeric outliers, and score the detected cells against the truth. */
final class LakeDetect(work: File, seed: Long) extends Workload {
  /** lineitem rows; orders and customer follow the TPC-H proportions
    * (~1.3 × this many rows and ~14 × this many cells in total). */
  private val LineItems = 12000
  private val ErrorRate = 0.02

  /** The table whose rows also arrive as a stream. */
  private val Fact = "lineitem"

  private var lake: Inputs.Lake = _
  private var arrivals: Seq[Row] = _
  private var factSchema: StructType = _
  private var spark: SparkSession = _
  /** The last unit's stream rules and sink, kept for its gate. */
  private var lastFactRules: Seq[graft.rules.RuleSpec] = Nil
  private var lastSink: String = _
  private val f1s = mutable.ArrayBuffer.empty[Double]
  /** The last unit's error cells, kept for its gate. */
  private var lastActual: DataFrame = _

  def generate(): Unit = {
    lake = Inputs.lake(new File(work, "lake"), seed, LineItems, ErrorRate)
    val fact = lake.tables.find(_.name == Fact).get
    factSchema = StructType(fact.cols.map(StructField(_, StringType)))
    arrivals = lake.dirty(Fact).map(r => Row.fromSeq(r.toSeq)).toSeq
  }

  def setup(s: SparkSession): Unit = spark = s
  // set-up is a session start alone: cheap, so sample it more often
  override def setupReps: Int = 7

  def sizes: Seq[(String, Double)] = Seq(
    "tables" -> lake.tables.size.toDouble, "rows" -> lake.rows.toDouble,
    "cells" -> lake.cells.toDouble, "planted_error_cells" -> lake.truth.size.toDouble)

  private def keys = lake.tables.map(t => t.name -> t.key).toMap

  // the profile columns rule derivation and the cluster features read
  private val consumed = ("table" +: RuleGenerator.consumedProfileColumns) ++
    Clustering.defaultFeatures.filterNot(RuleGenerator.consumedProfileColumns.contains)

  private def actual(dirty: Map[String, DataFrame],
      clean: Map[String, DataFrame]): DataFrame =
    lake.tables.map(t => Metrics.actualErrorCells(dirty(t.name), clean(t.name), t.key))
      .reduce(_.unionByName(_))

  def unit(i: Int, t: Tracer): UnitResult = {
    // every table is parsed once per pass: the layers below read the
    // ingested rows, not the CSV files
    val pairs = t.call("ingest") { Ingest.discoverLake(spark, lake.dir.getPath) }
    def parsed(df: DataFrame): DataFrame =
      if (t.tracing) t.force("ingest", df, "ingest.rows") else materialize(df)
    val dirty = pairs.map { case (n, (d, _)) => n -> parsed(d) }
    val clean = pairs.map { case (n, (_, c)) =>
      n -> parsed(c.getOrElse(sys.error(s"$n has no clean side")))
    }
    val profRows = t.call("profile") {
      Profiler.profileManyRows(clean.toSeq.sortBy(_._1),
        ProfilerConfig(exact = false, features = Set("quartiles", "mode", "pattern")),
        columns = consumed)
    }
    val assign = t.call("cluster") {
      val pts = profRows.map { r =>
        (r.getAs[String]("table") + "::" + r.getAs[String]("column")) ->
          Clustering.featureVectorLocal(r)
      }
      Clustering.dbscan(Clustering.minMaxScaleLocal(pts), 0.5, 2)
    }
    val bound = t.call("rules") { MultiTablePipeline.sharedClusterRulesLocal(profRows, assign) }
    val violations = t.call("rules") {
      bound.groupBy(_.table).toSeq.sortBy(_._1).map { case (tn, brs) =>
        ViolationScanner.scan(dirty(tn), tn, brs.map(_.rule).distinct, keys(tn))
          .select("table", "column", "row_id")
      }.reduceOption(_.unionByName(_))
    }.map(v => t.force("rules", v, "rules.violations"))
    lastFactRules = bound.filter(_.table == Fact).map(_.rule).distinct
      .filter(ViolationScanner.scalarRule)
    lastSink = s"arrivals_$i"
    if (lastFactRules.nonEmpty) {
      val progress = t.call("streaming") {
        val input = MemoryStream[Row](spark)(Encoders.row(factSchema))
        val q = StreamingQuality.violations(input.toDF(), Fact, lastFactRules, keys(Fact))
          .select("column", "row_id", "rule")
          .writeStream.format("memory").queryName(lastSink).outputMode("append").start()
        try { input.addData(arrivals); q.processAllAvailable() } finally q.stop()
        q.recentProgress
      }
      if (t.tracing) progress.filter(_.numInputRows > 0).foreach(record(t, _))
    }
    val outliers = t.call("outlier") {
      // the lake dialect is all-string: the detector reads the numeric
      // view of the column (a plain cast raises on "N/A" under ANSI)
      lake.tables.filter(_.outliers).map { tb =>
        val c = tb.measure
        val numeric = dirty(tb.name).select(col(tb.key), col(c).try_cast("double").as(c))
        Outliers.madOutliers(numeric, c, tb.key)
          .select(lit(tb.name).as("table"), lit(c).as("column"), col("row_id"))
      }.reduce(_.unionByName(_))
    }
    val flagged = t.force("outlier", outliers)
    val f1 = t.call("eval") {
      val predicted = Metrics.mergeErrors(violations.fold(flagged)(_.unionByName(flagged)))
      // persisted so the gate reads the cells this unit computed
      lastActual = actual(dirty, clean).persist(StorageLevel.MEMORY_AND_DISK)
      Metrics.score(predicted, lastActual)
        .filter(col("column") === "__overall__").select("f1").head().getDouble(0)
    }
    f1s += f1
    UnitResult(lake.cells, ok = true)
  }

  private def record(t: Tracer, p: StreamingQueryProgress): Unit = {
    def s(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
    t.count("streaming.plan_s", s("queryPlanning"))
    t.count("catalyst.plan_s", s("queryPlanning"))
    t.count("streaming.add_batch_s", s("addBatch"))
    t.count("streaming.commit_s", s("commitOffsets") + s("walCommit"))
    t.count("streaming.rows_in", p.numInputRows.toDouble)
    t.count("streaming.rows_out", math.max(0L, p.sink.numOutputRows).toDouble)
    t.count("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    t.count("streaming.state_mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0)
  }

  /** The unit's gates, outside its timed region: its `actualErrorCells`
    * equal the planted truth exactly, and the stream's violations equal
    * the batch twin over the same rows. */
  override def check(i: Int): Boolean = {
    val got = lastActual.select("row_id", "column").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val truthOk = got.length == lake.truth.size && got.toSet == lake.truth
    if (!truthOk) System.err.println(s"[perfbench] lake_detect unit $i: actualErrorCells " +
      s"has ${got.length} cells, the planted truth ${lake.truth.size}")
    val streamOk = lastFactRules.isEmpty || {
      def rows(df: DataFrame) = df.select("column", "row_id", "rule").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      val batch = rows(StreamingQuality.violations(
        spark.createDataFrame(java.util.Arrays.asList(arrivals: _*), factSchema),
        Fact, lastFactRules, keys(Fact)))
      val streamed = rows(spark.table(lastSink))
      streamed.length == batch.length && streamed.toSet == batch.toSet
    }
    if (!streamOk) System.err.println(s"[perfbench] lake_detect unit $i: " +
      "streamed violations differ from the batch twin")
    truthOk && streamOk && f1s.distinct.size == 1
  }

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.queryExecution.toRdd.count()
    p
  }

  def quality(): Double = f1s.headOption.getOrElse(0.0)
}
