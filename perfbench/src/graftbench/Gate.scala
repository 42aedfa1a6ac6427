package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.streaming.StreamingQuery

/** `gate`: `StreamingOps.dedupStream`, the dedup-on-arrival gate, fed one
  * wave of generated documents per trigger (20% planted near-dups, in
  * hash order so every wave mixes novel docs and dups). The index is
  * seeded with wave 0; warm-up triggers run in set-up. Each trigger
  * probes the growing index, appends its survivors to the store and
  * writes the pending buffer; every `GrowEvery`-th folds that buffer into
  * the index.
  */
final class Gate extends Workload {
  import Gate._

  private type Doc = Inputs.Doc
  private var waves: IndexedSeq[Array[Doc]] = IndexedSeq.empty
  /** Planted pairs, both ways: a dup's text is its base text plus two
    * mutation tokens.
    */
  private var partner: Map[Long, Long] = Map.empty
  private var query: StreamingQuery = _
  private var mem: MemoryStream[Doc] = _
  private var root: String = _
  private var warehouse: String = _
  private var offered = 0 // waves handed to the gate, the seed wave included
  private val waveOf = mutable.Map.empty[String, Int] // op id -> wave
  private val folds = mutable.Set.empty[String]
  private val kept = mutable.Map.empty[Int, Set[Long]] // wave -> stored ids
  private var cycles = Vector.empty[Double]

  private def store = s"$root/store"
  private def pendingDir = s"${store}_idx_pending"

  def generate(h: Harness): Unit = {
    val spark = h.spark
    root = s"${h.args.work}/gate"
    warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
      .getPath
    deleteAll(new File(root))
    val docs = Inputs.docs(Inputs.corpus(spark, NBase, DupPct, h.args.seed)
      .orderBy(xxhash64(col("doc_id"))))
    if (!Expected.checkFingerprint(h.args.expected, "gate", h.args.seed,
        Inputs.fingerprint(docs)))
      h.notes += s"gate corpus checksum for seed ${h.args.seed} not pinned"
    waves = docs.grouped(WaveDocs).toIndexedSeq
    val byText = docs.map(d => d._3 -> d._1).toMap
    partner = docs.flatMap { case (id, _, text) =>
      val toks = text.split(" ")
      if (toks.length > 2 && toks.takeRight(2).forall(_.matches("m[0-9]+")))
        byText.get(toks.dropRight(2).mkString(" "))
          .toSeq.flatMap(base => Seq(id -> base, base -> id))
      else Nil
    }.toMap
  }

  /** Seed the index with wave 0. */
  def load(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    Seq("_bands", "_shingles").foreach(s =>
      deleteAll(new File(warehouse, s"$Table$s")))
    graft.operators.Dedup.writeDedupIndex(
      spark.createDataset(waves(0).toSeq).toDF("doc_id", "source", "text")
        .select("doc_id", "text"), Table)
  }

  /** Start the gate and run the warm-up triggers. */
  def warmUp(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    mem = MemoryStream[Doc](spark)
    query = graft.streaming.StreamingOps.dedupStream(
      mem.toDF().toDF("doc_id", "source", "text"), Table, store,
      growEvery = GrowEvery)
    offered = 1
    (1 to WarmWaves).foreach(_ => offer())
  }

  private def offer(): Unit = {
    mem.addData(waves(offered).toSeq)
    query.processAllAvailable()
    offered += 1
  }

  private def pendingFiles: Int =
    Option(new File(pendingDir).listFiles()).map(_.length).getOrElse(0)

  /** Whole fold cycles of `GrowEvery` triggers, so every run holds the
    * same mix of plain and fold triggers.
    */
  def measure(h: Harness, deadlineNs: Long): Unit = {
    do {
      val t0 = System.nanoTime()
      (1 to GrowEvery).foreach { _ =>
        val wave = offered
        val before = pendingFiles
        h.op(s"trigger$wave", "StreamingOps")(offer())
        waveOf(h.ops.last.id) = wave
        if (pendingFiles < before) folds += h.ops.last.id
      }
      cycles :+= (System.nanoTime() - t0) / 1e9
    } while (offered + GrowEvery <= waves.size &&
      h.another(deadlineNs, cycles.last))
    query.stop()
  }

  /** A trigger is correct when the docs it stored are exactly those of its
    * wave whose planted partner had not arrived in an earlier wave; the
    * gate compares each doc only with earlier waves. The store as a whole
    * must audit with no duplicate content hash.
    */
  def check(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    spark.read.parquet(s"$store/*.parquet")
      .select($"doc_id", $"date_processed").as[(Long, String)].collect()
      .groupBy(_._2).foreach { case (batch, rows) =>
        // micro-batch k carries wave k + 1
        kept(batch.stripPrefix("batch").toInt + 1) = rows.map(_._1).toSet
      }
    val seen = mutable.Set.empty[Long]
    val wrong = (0 until offered).filter { w =>
      val want = waves(w).map(_._1)
        .filterNot(id => partner.get(id).exists(seen)).toSet
      waves(w).foreach(d => seen += d._1)
      w > 0 && kept.getOrElse(w, Set.empty) != want
    }.toSet
    val dups = graft.sources.IncrementalIngest.audit(spark, store)
      .select("duplicate_count").as[Long].head()
    if (wrong.exists(_ <= WarmWaves) || dups != 0) {
      System.err.println(s"[graftbench] gate store wrong: waves " +
        s"${wrong.toSeq.sorted.mkString(",")}, duplicate_count $dups")
      h.checkFailed ++= h.ops.map(_.id)
    }
    h.ops.foreach(o => if (wrong(waveOf(o.id))) {
      System.err.println(s"[graftbench] ${o.name}: stored docs differ")
      h.checkFailed += o.id
    })
  }

  def unitSecs: Seq[Double] = cycles

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else if (f.getName.startsWith(".")) 0L else f.length()

  private def files(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(files).sum
    else if (f.getName.startsWith("part-")) 1 else 0

  def layerMetrics(h: Harness): Map[String, Double] = {
    val ok = h.good
    val idx = Seq("_bands", "_shingles").map(s => new File(warehouse, s"$Table$s"))
    val inputBytes = waves.take(offered).flatten
      .map(_._3.getBytes("UTF-8").length.toLong).sum
    val timedDocs = ok.map(o => waves(waveOf(o.id)).length).sum
    val addBatch = h.trace.toSeq.flatMap { t =>
      import scala.jdk.CollectionConverters._
      val batches = ok.map(o => waveOf(o.id) - 1L).toSet
      t.progress.asScala.filter(p => batches(p.batch)).map(_.addBatchMs / 1e3)
    }
    Map(
      "gate.fold_trigger_p50_s" -> Main.median(ok.filter(o => folds(o.id))
        .map(_.sec)),
      "gate.plain_trigger_p50_s" -> Main.median(ok.filterNot(o => folds(o.id))
        .map(_.sec)),
      "gate.add_batch_s" -> Main.median(addBatch.toSeq),
      "gate.index_files" -> idx.map(files).sum.toDouble,
      "gate.kept_frac" -> ok.map(o => kept.getOrElse(waveOf(o.id), Set.empty)
        .size).sum.toDouble / timedDocs,
      "gate.store_bytes_per_input_byte" ->
        (du(new File(store)) + du(new File(pendingDir)) + idx.map(du).sum)
          .toDouble / inputBytes)
  }

  private def deleteAll(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteAll))
    f.delete()
  }
}

object Gate {
  val WaveDocs = 200
  /** The pending buffer folds into the index every 4th trigger (the
    * program's default is 8): a run then holds whole cycles cheaply.
    */
  val GrowEvery = 4
  /** Micro-batches 0-1. Any `GrowEvery` consecutive triggers hold exactly
    * one fold, so the timed cycles need not line up with the folds.
    */
  val WarmWaves = 2
  /** 30 waves of 200: the seed wave, the warm-up and up to 27 triggers. */
  val NBase = 4800L
  val DupPct = 20
  val Table = "graftbench_gate_idx"

  val layerKeys: Seq[String] = Seq("gate.fold_trigger_p50_s",
    "gate.plain_trigger_p50_s", "gate.add_batch_s", "gate.index_files",
    "gate.kept_frac", "gate.store_bytes_per_input_byte")
}
