package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.Caching
import graft.functions.FilterDsl
import graft.operators.{Crud, Dedup, IvfIndex, Knn}
import graft.sources.Records
import graft.types.Metric
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.functions.{col, lit}

/** Benchmark harness: runs one workload through graft's public functions
  * in a fresh local session and writes its timings, its answers (checked
  * afterwards against independent ground truth) and, when traced, its
  * spans under `<dir>/out`.
  *
  *   Main --workload ann-serve --dir <run dir> --seconds 5 --trace 0 --cpus 4
  */
object Main {
  val K = 10
  val Probes = 32
  val Density = 256
  val Setups = 3

  final case class Opts(workload: String, dir: String, seconds: Double, trace: Boolean, cpus: Int) {
    def in(name: String): String = s"$dir/inputs/$name"
    def work(name: String): String = s"$dir/work/$name"
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val o = Opts(kv("workload"), kv("dir"), kv("seconds").toDouble, kv("trace") == "1", kv("cpus").toInt)
    val w: Workload = o.workload match {
      case "ann-serve" => new AnnServe(o)
      case "ann-upsert" => new AnnUpsert(o)
      case "dedup" => new DedupRun(o)
    }
    new File(s"${o.dir}/out").mkdirs()
    // Set-up is session start through opening the inputs, repeated so the
    // reported figure is a median rather than one cold start.
    var spark: SparkSession = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      w.open(spark)
      secs(t0)
    }
    if (o.trace) Trace.install(spark)
    val started = System.nanoTime()
    try w.run(spark)
    finally {
      System.err.println(f"[graft-bench] set-up ${setups.sum}%.1f s, workload ${secs(started)}%.1f s")
      val trace = Trace.dump()
      write(o, "result.json", Map("setup_s" -> setups, "metrics" -> w.metrics,
        "info" -> w.info, "attempted" -> w.attempted, "failed" -> w.failed))
      if (o.trace) write(o, "trace.json", trace)
      spark.stop()
    }
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"graft-bench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.dir}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.dir}/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
  }

  def write(o: Opts, name: String, v: Any): Unit = {
    val pw = new PrintWriter(s"${o.dir}/out/$name", "UTF-8")
    try pw.write(Json(v)) finally pw.close()
  }

  /** Session storage held by cached blocks, memory and disk, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def dirMb(path: String): Double = {
    def size(f: File): Long = if (f.isDirectory) f.listFiles().map(size).sum else f.length()
    size(new File(path)) / 1e6
  }

  def dataFiles(path: String): Int = {
    def count(f: File): Int =
      if (f.isDirectory) f.listFiles().map(count).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    count(new File(path))
  }

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }

  def vec(r: Row, i: Int): Array[Float] = r.getSeq[Float](i).toArray
}

import Main._

abstract class Workload(val o: Opts) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0

  def open(spark: SparkSession): Unit
  def run(spark: SparkSession): Unit

  /** One counted operation; a failure is logged and counted, not thrown. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graft-bench] operation failed: $e")
        e.printStackTrace()
        None
    }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, secs(t0))
  }

  /** One IVF query against `model`, returning (ids, distances, seconds). */
  def ivfQuery(spark: SparkSession, model: IvfIndex.Model, q: Array[Float],
      filter: String): (Seq[Long], Seq[Double], Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val rows = Trace.request("request.query") {
      val f = if (filter.isEmpty) lit(true)
        else Trace.span("FilterDsl.predicate") { FilterDsl.predicate(col("metadata"), filter) }
      val df = Trace.span("IvfIndex.query") {
        IvfIndex.query(model, Seq(Tuple1(q)).toDF("qvec"), K, Probes, filter = f)
          .select("id", "distance")
      }
      Trace.span("IvfIndex.query.exec") {
        val rows = df.collect()
        if (Trace.enabled) {
          // Rows reaching the distance kernel: the output of the probe
          // semi-join of the assignment against the probed clusters.
          val examined = Trace.planNodes(df).collect {
            case j: BroadcastHashJoinExec if j.joinType == LeftSemi => Trace.rows(j)
          }.sum
          Trace.attr("rows_examined", examined.toDouble)
          Trace.attr("results", rows.length.toDouble)
        }
        rows
      }
    }
    (rows.map(_.getLong(0)).toSeq, rows.map(_.getDouble(1)).toSeq, secs(t0))
  }
}

/** One serving session: the index is built over the store and its
  * assignment held in the session cache. One client then sends single IVF
  * queries in a closed loop, a share of them filtered, with rounds of batch
  * IVF and exact queries between the two halves of the loop. */
class AnnServe(o: Opts) extends Workload(o) {
  /** Single queries and batch rounds every run makes at least. */
  val MinQueries = 32
  val MinRounds = 2
  val SampledRecords = 100
  var recs: DataFrame = _
  var qs: Array[(Int, Array[Float], String)] = _
  var exactQs: Array[(Int, Array[Float])] = _

  def open(spark: SparkSession): Unit = {
    recs = Records.open(spark, o.in("records"))
    recs.count()
    val rows = spark.read.parquet(o.in("queries.parquet")).orderBy("query_id").collect()
    qs = rows.map(r => (r.getInt(0), vec(r, 1), r.getString(2)))
    exactQs = rows.filter(_.getBoolean(3)).map(r => (r.getInt(0), vec(r, 1)))
  }

  def run(spark: SparkSession): Unit = {
    import spark.implicits._
    val built = op(timed(Trace.request("request.build") {
      val m = Trace.span("IvfIndex.buildCached") { IvfIndex.buildCached(recs, "ann-serve", Density) }
      Trace.span("Caching.materialize") { m.assigned.count() }
      Trace.attr("centroids", m.centroids.count().toDouble)
      m
    }))
    if (built.isEmpty) return
    val (model, buildS) = built.get
    val cached = cachedMb(spark)

    // Single queries run in two halves, before and after the batch rounds,
    // so their median does not hang on one stretch of the run.
    val lat = ArrayBuffer.empty[Double]
    val answers = ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    def singles(): Unit = {
      val t0 = System.nanoTime()
      val n = i + MinQueries / 2
      while (i < n || secs(t0) < o.seconds / 3) {
        val (qid, q, flt) = qs(i % qs.length)
        op(ivfQuery(spark, model, q, flt)).foreach { case (ids, ds, s) =>
          lat += s
          answers += Map("q" -> qid, "filter" -> flt, "ids" -> ids, "d" -> ds)
        }
        i += 1
      }
    }

    singles()
    val queries = qs.toSeq.map { case (qid, q, _) => (qid, q) }.toDF("query_id", "qvec")
    val exactQueries = exactQs.toSeq.toDF("query_id", "qvec")
    val batches, exacts = ArrayBuffer.empty[Double]
    var last: (Array[Row], Array[Row]) = null
    val t0 = System.nanoTime()
    while (batches.size < MinRounds || secs(t0) < o.seconds / 3) {
      op(Trace.request("request.batch") {
        val (batch, bs) = timed(Trace.span("IvfIndex.queryBatch") {
          val df = IvfIndex.queryBatch(model, queries, K, Probes).select("query_id", "id", "distance")
          val rows = df.collect()
          if (Trace.enabled) {
            // Record-query pairs reaching the distance kernel: the join of
            // the assignment with the per-query probe list.
            val examined = Trace.planNodes(df).collect {
              case j: BroadcastHashJoinExec if j.joinType == Inner &&
                j.output.exists(_.name == "qvec") => Trace.rows(j)
            }.sum
            Trace.attr("rows_examined", examined.toDouble)
            Trace.attr("results", rows.length.toDouble)
          }
          rows
        })
        val (exact, es) = timed(Trace.span("Knn.searchBatch") {
          Trace.attr("distance_evals", recs.count().toDouble * exactQs.length)
          Knn.searchBatch(recs, exactQueries, K).select("query_id", "id", "distance").collect()
        })
        batches += bs; exacts += es
        last = (batch, exact)
      })
    }
    singles()

    metrics("build_s") = buildS
    metrics("op_p50_ms") = median(lat.toSeq) * 1e3
    metrics("work_per_s") = qs.length / median(batches.toSeq)
    metrics("state_mb") = cached
    info("query_p90_ms") = percentile(lat.toSeq, 0.9) * 1e3
    info("queries") = lat.size
    info("batch_rounds") = batches.size
    info("exact_qps") = exactQs.length / median(exacts.toSeq)
    write(o, "answers.json", answers)
    if (last != null) {
      val rows = (rs: Array[Row]) => rs.map(r => Seq[Any](r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      write(o, "batch.json", rows(last._1))
      write(o, "exact.json", rows(last._2))
    }
    write(o, "centroids.json", model.centroids.collect()
      .map(r => Map("cluster_id" -> r.getInt(0), "centroid" -> vec(r, 1))).toSeq)
    val sample = recs.select("id").orderBy("id").limit(SampledRecords).collect().map(_.getLong(0))
    write(o, "assigned.json", model.assigned.where(col("id").isin(sample.toIndexedSeq: _*))
      .select("id", "cluster_id").collect()
      .map(r => Map("id" -> r.getLong(0), "cluster_id" -> r.getInt(1))).toSeq)
    write(o, "build.json", Map("store" -> recs.count(), "centroids" -> model.centroids.count()))
  }
}

/** Rounds of upserts and deletes merged into the record store and the
  * index, written to disk and reopened; single queries are then served
  * from the on-disk partitioned store. */
class AnnUpsert(o: Opts) extends Workload(o) {
  /** Change rounds every run makes at least. */
  val MinRounds = 2
  var store: DataFrame = _
  var qs: Map[Int, Array[(Int, Array[Float])]] = _
  var rounds = 0

  def open(spark: SparkSession): Unit = {
    store = Records.open(spark, o.in("store"))
    store.count()
    qs = spark.read.parquet(o.in("queries.parquet")).collect()
      .map(r => (r.getInt(0), (r.getInt(1), vec(r, 2))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }
    rounds = new File(o.in("changes")).list().length
  }

  def run(spark: SparkSession): Unit = {
    val built = op(timed(Trace.request("request.build") {
      val m = Trace.span("IvfIndex.build") { IvfIndex.build(store, Density) }
      // Centroids are kept as local rows: every round assigns against them.
      val cents = spark.createDataFrame(
        spark.sparkContext.parallelize(m.centroids.collect().toSeq, 1), m.centroids.schema)
      Trace.span("IvfIndex.writePartitioned") { IvfIndex.writePartitioned(m, o.work("index-0")) }
      cents
    }))
    if (built.isEmpty) return
    val (cents, buildS) = built.get
    var cur = store
    var assigned = spark.read.parquet(o.work("index-0"))
    var prevStore: Option[String] = None
    val lat, rowsPerS, opens = ArrayBuffer.empty[Double]
    val perRound = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var r = 1
    while (r <= rounds && (r <= MinRounds || secs(t0) < o.seconds)) {
      val storePath = o.work(s"store-$r")
      val indexPath = o.work(s"index-$r")
      val done = op(Trace.request("request.round") {
        val changes = spark.read.parquet(o.in(s"changes/round=$r"))
        val changed = changes.count()
        val (_, ws) = timed {
          val merged = Trace.span("Crud.merge") {
            val m = Caching.ensureCached(Crud.merge(cur, changes))
            m.count()
            m
          }
          Trace.span("Records.snapshot") {
            // User bytes: the changed rows' ids and vectors.
            Trace.attr("user_bytes", changed * (8.0 + 4.0 * qs(r).head._2.length))
            Records.snapshot(merged, storePath)
          }
          val diffed = Trace.span("IvfIndex.applyDiff") {
            val d = Caching.ensureCached(IvfIndex.applyDiff(IvfIndex.Model(cents, assigned),
              changes.select("id", "op", "embedding", "metadata"), Metric.Euclidean).assigned)
            d.count()
            d
          }
          Trace.span("IvfIndex.writePartitioned") {
            IvfIndex.writePartitioned(IvfIndex.Model(cents, diffed), indexPath)
          }
          merged.unpersist()
          diffed.unpersist()
        }
        rowsPerS += changed / ws
        val (_, os) = timed(Trace.span("Records.open") {
          cur = Records.open(spark, storePath)
          assigned = spark.read.parquet(indexPath)
        })
        opens += os
      }).flatMap { _ =>
        val model = IvfIndex.Model(cents, assigned)
        val answers = qs(r).toSeq.flatMap { case (qid, q) =>
          op(ivfQuery(spark, model, q, "")).map { case (ids, ds, s) =>
            lat += s
            Map("q" -> qid, "ids" -> ids, "d" -> ds)
          }
        }
        Some(Map("round" -> r,
          "store_ids" -> cur.select("id").collect().map(_.getLong(0)).sorted.toSeq,
          "index_ids" -> assigned.select("id").collect().map(_.getLong(0)).sorted.toSeq,
          "answers" -> answers))
      }
      done.foreach(perRound += _)
      // Rounds read only the previous round's files; older ones go.
      prevStore.foreach(deleteTree)
      deleteTree(o.work(s"index-${r - 1}"))
      prevStore = Some(storePath)
      r += 1
    }
    val last = r - 1
    metrics("build_s") = buildS
    metrics("op_p50_ms") = median(lat.toSeq) * 1e3
    metrics("work_per_s") = median(rowsPerS.toSeq)
    metrics("state_mb") = dirMb(o.work(s"store-$last")) + dirMb(o.work(s"index-$last"))
    info("query_p95_ms") = percentile(lat.toSeq, 0.95) * 1e3
    info("queries") = lat.size
    info("rounds") = last
    info("store_files") = dataFiles(o.work(s"index-$last"))
    info("open_ms") = median(opens.toSeq) * 1e3
    write(o, "rounds.json", perRound)
  }
}

/** MinHash LSH near-duplicate pairs and their duplicate groups over a
  * generated corpus, in rounds that each start from a cold cache. */
class DedupRun(o: Opts) extends Workload(o) {
  /** Cold-cache dedup passes every run makes at least. */
  val MinRounds = 3
  var docs: DataFrame = _
  var nDocs = 0L

  def open(spark: SparkSession): Unit = {
    docs = Records.table(spark, s"${o.dir}/inputs", "documents")
    nDocs = docs.count()
  }

  def run(spark: SparkSession): Unit = {
    val sigs, lshs, passes, cached = ArrayBuffer.empty[Double]
    var last: (Array[Row], Array[Row]) = null
    val t0 = System.nanoTime()
    while (passes.size < MinRounds || secs(t0) < o.seconds) {
      spark.catalog.clearCache()
      op(Trace.request("request.round") {
        val start = System.nanoTime()
        Trace.span("Dedup.minhashSignature") {
          Caching.ensureCached(Dedup.minhashSignature(docs, 3, 16)
            .select(col("doc_id"), col("__sig"), col("__shh"))).count()
        }
        val sig = secs(start)
        val pairs = Trace.span("Dedup.minhashLsh") {
          val p = Caching.ensureCached(Dedup.minhashLsh(docs, 3, 16, 8, 0.5))
          val n = p.count()
          if (Trace.enabled) {
            // Candidate pairs: the cached band self-join the verification
            // joins read, found in the executed plan of the pair cache.
            val cands = Trace.planNodes(p).collect {
              case s: InMemoryTableScanExec if s.output.map(_.name) == Seq("doc_id_a", "doc_id_b") =>
                s.relation.cacheBuilder.rowCountStats.value.longValue
            }
            Trace.attr("candidate_pairs", cands.headOption.getOrElse(0L).toDouble)
            Trace.attr("verified_pairs", n.toDouble)
          }
          p
        }
        val groups = Trace.span("Dedup.duplicateGroups") { Dedup.duplicateGroups(pairs).collect() }
        val pass = secs(start)
        sigs += sig; lshs += pass - sig; passes += pass; cached += cachedMb(spark)
        last = (pairs.collect(), groups)
      })
    }
    metrics("build_s") = median(sigs.toSeq)
    metrics("op_p50_ms") = median(lshs.toSeq) * 1e3
    metrics("work_per_s") = nDocs / median(passes.toSeq)
    metrics("state_mb") = median(cached.toSeq)
    info("rounds") = passes.size
    if (last != null) {
      write(o, "pairs.json", last._1.map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
      write(o, "groups.json", last._2.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq)
    }
  }
}
