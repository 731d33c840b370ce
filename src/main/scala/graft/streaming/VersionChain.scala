package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The version-chain protocol every stateful stream sink in [[StreamOps]]
  * runs on. A chain is a directory of parquet versions `v=N`, each
  * committed by the `_SUCCESS` marker the parquet job commit writes last;
  * micro-batch `b` writes output version [[out]]`(b)` — `b` itself for
  * the merge sinks, `b + 1` for the seeded chains whose `v=0` is written
  * before the stream starts. The contract that makes a replayed batch
  * exactly-once:
  *   - a batch reads only the newest COMMITTED version below its output
  *     ([[newestCommittedBelow]]): a replay never chains off its own
  *     earlier output, and a torn (marker-less) version is invisible;
  *   - a version's side artifacts — the quantizer `q=`, the probe width
  *     `p=`, the batch's verdict ledger `b=` — are written before its
  *     `v=` marker ([[commit]]), so a committed `v=N` implies they are
  *     readable;
  *   - a batch overwrites only its own output (`v=`, `q=`, `p=` at its
  *     output version, `b=` at its batch id);
  *   - so a replay re-derives every artifact from the same committed
  *     inputs: replay equals first run. A batch's maintenance decision
  *     (retune, retrain, resize) lives inside its own version write for
  *     exactly this reason.
  * [[VersionChain.run]] owns the per-run lifecycle around it. `state`,
  * `verd` (ledgers) and `ckpt` (the streaming checkpoint) share one
  * file system, built once per chain.
  *
  * The chain records the schema of every file set it writes and reads
  * it back with that schema: a `spark.read.parquet` without one runs a
  * schema-inference job on files whose schema the chain already knows.
  */
private[graft] final class VersionChain private (s: SparkSession,
    val state: String, val verd: String, val ckpt: String, seeded: Boolean,
    conf: Configuration) {
  import VersionChain._

  def this(s: SparkSession, state: String, verd: String = "",
      ckpt: String = "", seeded: Boolean = false) =
    this(s, state, verd, ckpt, seeded, s.sessionState.newHadoopConf())

  /** A file system on the chain's one Hadoop conf: building a conf
    * copies the whole session conf, so the chain builds it once. */
  private def fsOf(path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), conf)

  private val fs = fsOf(state)

  /** Schema of each file set this chain wrote, by path. */
  private val written =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Writes run through `save`, so a job profile tells them ("save at
    * VersionChain") from reads ("parquet at VersionChain"). */
  private def write(frame: DataFrame, dst: String): Unit = {
    written.remove(dst)
    frame.write.mode("overwrite").format("parquet").save(dst)
    written.put(dst, frame.schema)
    ()
  }

  /** `p` read with the schema it was written with, when this chain
    * wrote it; inferred otherwise. */
  private def load(p: String): DataFrame =
    Option(written.get(p)).fold(s.read.parquet(p))(s.read.schema(_).parquet(p))

  /** The version micro-batch `batchId` writes. */
  def out(batchId: Long): Long = if (seeded) batchId + 1 else batchId

  def path(kind: String, v: Long): String = s"$state/$kind=$v"

  /** Committed versions, ascending. */
  def committed: Seq[Long] = committedVersions(fs, new Path(state)).sorted

  def newestCommittedBelow(out: Long): Option[Long] =
    committed.filter(_ < out).lastOption

  def newest: Long = committed.lastOption
    .getOrElse(sys.error(s"no committed version under $state"))

  /** The version batch `batchId` chains off, if any (a merge chain's
    * first batch has none). */
  def prev(batchId: Long): Option[Long] = newestCommittedBelow(out(batchId))

  /** [[prev]] of a seeded chain, which always has one. */
  def base(batchId: Long): Long = prev(batchId).getOrElse(sys.error(
    s"no committed version below ${out(batchId)} under $state — the " +
      "seed (v=0) is missing"))

  def read(v: Long, kind: String = "v"): DataFrame = load(path(kind, v))

  /** Write a seed artifact at version 0, unsized. */
  def seed(frame: DataFrame, kind: String = "v"): Unit =
    write(frame, path(kind, 0))

  /** Commit batch `batchId`'s output: the `sides` in order, then `next`
    * as `v=out` — the marker. `next` is by-name, so whatever computing it
    * runs happens after the sides are written. Writes are sized by the
    * bytes of the predecessor version `from` ([[widthFor]]); a side with
    * `rows` is sized by its row count instead. */
  def commit(batchId: Long, from: Option[Long], sides: Side*)(
      next: => DataFrame): Unit = {
    val width = widthFor(from.map(v => bytesAt(fs, path("v", v))).sum)
    sides.foreach { sd =>
      val dst =
        if (sd.kind == "b") s"$verd/b=$batchId"
        else path(sd.kind, out(batchId))
      write(sd.rows.fold(sd.frame.repartition(width))(
        sizedByRows(sd.frame, _)), dst)
    }
    write(next.repartition(width), path("v", out(batchId)))
  }

  /** Keep the newest `keep` versions, committed or not. Three for the
    * merge sinks: a replayed batch N re-reads the newest version < N,
    * so its predecessor must survive batch N's own prune. */
  def prune(keep: Int): Unit =
    fs.listStatus(new Path(state)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .sorted.reverse.drop(keep)
      .foreach { v =>
        fs.delete(new Path(path("v", v)), true)
        written.remove(path("v", v))
      }

  private val buckets =
    new java.util.concurrent.ConcurrentHashMap[Long, VersionChain]()

  /** The chain of one hash bucket, under `bucket=<b>`: one per bucket,
    * so a later batch reads the bucket's versions with their schemas. */
  def bucket(b: Long): VersionChain = buckets.computeIfAbsent(b,
    _ => new VersionChain(s, s"$state/bucket=$b", verd, ckpt, seeded, conf))

  /** The committed verdict ledgers of batches `0 until batches`,
    * projected to `cols` and ordered by (batch, doc_id). */
  def ledger(batches: Int, cols: Column*): DataFrame =
    (0 until batches).map { i =>
      val p = s"$verd/b=$i"
      require(fs.exists(new Path(p, "_SUCCESS")),
        s"batch $i left no committed verdict ledger at $p")
      load(p)
    }.reduce(_ unionByName _)
      .select(cols: _*).orderBy("batch", "doc_id").localCheckpoint(true)

  /** Whether the streaming checkpoint recorded batch `batchId` as run. */
  private def checkpointCommitted(batchId: Long): Boolean =
    fs.exists(new Path(s"$ckpt/commits/$batchId"))

  /** The number of micro-batches (parquet files) of the split `src`. */
  private def batchesOf(src: String): Long =
    fsOf(src).listStatus(new Path(src))
      .count(_.getPath.getName.endsWith(".parquet")).toLong

  private def deleteDirs(): Unit =
    Seq(state, verd, ckpt).foreach(d => fs.delete(new Path(d), true))
}

private[graft] object VersionChain {

  /** A side artifact of a version (see [[VersionChain.commit]]). */
  final case class Side(kind: String, frame: DataFrame,
      rows: Option[Long] = None)

  /** One chain's domain: the scratch-dir name, the file split it
    * streams (one micro-batch per file), the seed written before the
    * stream starts, the per-batch step, and the tables the seed reads
    * (`seedReads`, which size the seed's width). */
  final case class Spec(name: String, src: String,
      seed: VersionChain => Unit,
      step: (VersionChain, DataFrame, Long) => Unit,
      seeded: Boolean = true, seedReads: Seq[String] = Nil)

  /** Deliberate mid-chain crash: thrown after the designated batch's
    * writes commit but BEFORE the runtime records the batch in the
    * checkpoint commit log — exactly the torn state a real driver loss
    * leaves behind, and the one the chain contract must survive. */
  final class InjectedCrash(msg: String) extends RuntimeException(msg)

  @annotation.tailrec
  private def isInjected(t: Throwable): Boolean = t match {
    case null => false
    case _: InjectedCrash => true
    case other => isInjected(other.getCause)
  }

  /** One run of a chain: UUID-unique state, ledger and checkpoint dirs
    * under [[StreamOps.scratchRoot]], the seed, one streaming leg per
    * entry of `crashes` (each killed by an [[InjectedCrash]] right after
    * that batch commits sink-side, then checked torn and handed to
    * `afterCrash`), a final leg resuming from the same checkpoint, a
    * check that every batch of a seeded chain committed its version
    * (a bucketed merge keeps its versions per bucket), then `result`,
    * with the dirs deleted in `finally`. `result` must materialize what
    * it returns. The seed runs in a [[StreamOps.withStatePartitions]]
    * scope sized by the tables it reads; the legs and `result` in one
    * sized by the split plus the seed's committed `v=0`. */
  def run[T](s: SparkSession, spec: Spec, crashes: Seq[Long] = Nil,
      afterCrash: (VersionChain, Long) => Unit = (_, _) => ())(
      result: VersionChain => T): T = {
    val runId = java.util.UUID.randomUUID()
    val root = StreamOps.scratchRoot(s)
    def dir(kind: String) = s"$root/graft_${spec.name}_${kind}_$runId"
    val c = new VersionChain(s, dir("state"), dir("verd"), dir("ckpt"),
      spec.seeded)
    try {
      StreamOps.withStatePartitions(s, spec.seedReads)(spec.seed(c))
      StreamOps.withStatePartitions(s,
        spec.src +: c.committed.map(c.path("v", _))) {
        crashes.foreach { k =>
          leg(s, spec, c, Some(k))
          require(c.committed.lastOption.contains(c.out(k)) &&
            !c.checkpointCommitted(k),
            s"${spec.name}: the crash after batch $k must leave its " +
              "version sink-committed, the tail unrun and the batch " +
              "checkpoint-uncommitted")
          afterCrash(c, k)
        }
        leg(s, spec, c, None)
        if (spec.seeded) {
          val batches = c.batchesOf(spec.src)
          require(c.committed.lastOption.contains(c.out(batches - 1L)),
            s"${spec.name}: expected $batches committed batches, newest " +
              s"version ${c.committed.lastOption}")
        }
        result(c)
      }
    } finally c.deleteDirs()
  }

  /** One streaming leg: one file of `spec.src` per micro-batch,
    * `spec.step` as the foreachBatch sink, resuming from whatever the
    * checkpoint says is next (a checkpoint whose last batch committed
    * sink-side but not runtime-side REPLAYS that batch). */
  private def leg(s: SparkSession, spec: Spec, c: VersionChain,
      crashAfter: Option[Long]): Unit = {
    val q = s.readStream.schema(graft.io.Tables.footerSchema(s, spec.src))
      .option("maxFilesPerTrigger", "1").parquet(spec.src)
      .writeStream.option("checkpointLocation", c.ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        spec.step(c, batch, batchId)
        if (crashAfter.contains(batchId))
          throw new InjectedCrash(s"injected crash after batch $batchId")
      }.start()
    try q.processAllAvailable()
    catch { case t: Throwable if crashAfter.nonEmpty && isInjected(t) => () }
    finally q.stop()
  }

  private[streaming] def hadoopFs(s: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), s.sessionState.newHadoopConf())

  private[streaming] def delete(s: SparkSession, path: String): Unit = {
    hadoopFs(s, path).delete(new Path(path), true)
    ()
  }

  /** Versions under `root` whose write COMMITTED (the `_SUCCESS` marker
    * the parquet job commit protocol writes last). A crash mid-write
    * leaves a `v=` directory with some task-committed part files and no
    * marker — a TORN version that must be invisible to every reader:
    * the state read surface would serve partial sums, and a merge must
    * never chain off one. The chaos spec in StreamOpsSpec pins this by
    * planting exactly such a directory. */
  private def committedVersions(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith("v="))
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(2).toLong)

  /** Target bytes per state-version output file, and per shuffle and
    * state-store partition of a stream run. */
  private[graft] val StateFileBytes = 64L * 1024 * 1024

  /** The streaming layer's one width rule: ⌈`bytes` / [[StateFileBytes]]⌉
    * partitions, at least 1 and at most `1 << 20`. It sizes every state
    * and ledger write ([[commit]]) and every stream run's shuffle and
    * state-store width ([[StreamOps.withStatePartitions]]). Derived from
    * the bytes, not a constant: a KB-scale state is one partition, not
    * 8-32 near-empty ones that every later read re-splits into as many
    * tasks; a TB-scale state still gets one partition per 64 MB.
    *
    * Writes apply it with `repartition`, NOT `coalesce`: coalesce is
    * NARROW, so coalesce(1) folds every narrow ancestor — including LAZY
    * localCheckpoint blocks, which materialize inside the consuming job
    * — into the single write task, serializing the chain's whole
    * screen/banding/assignment compute (measured: the ANN chains
    * nondeterministically ran 2-3× their medians). The repartition
    * exchange keeps upstream compute at its natural width and moves only
    * the KB-scale result to the one writer. */
  private[graft] def widthFor(bytes: Long): Int =
    if (bytes <= 0L) 1
    else ((bytes - 1) / StateFileBytes + 1).min(1L << 20).toInt

  /** On-disk bytes under `paths`, files or directories (a missing path
    * counts 0): one driver-side ContentSummary call each, no Spark job. */
  private[streaming] def bytesUnder(s: SparkSession,
      paths: Seq[String]): Long = {
    val conf = s.sessionState.newHadoopConf()
    paths.map(p => bytesAt(FileSystem.get(new java.net.URI(p), conf), p)).sum
  }

  private def bytesAt(fs: FileSystem, p: String): Long = {
    val path = new Path(p)
    if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
  }

  /** Row-count flavor of [[widthFor]] for writes whose row count is
    * already a driver scalar (quantizer matrices, the 1-row width — a
    * k-row `Seq(...).toDF` otherwise writes defaultParallelism near-empty
    * files): one output partition per 64 Ki rows, the FrameMemo
    * RowsPerPartition sizing. */
  private def sizedByRows(df: DataFrame, rows: Long): DataFrame =
    df.repartition(math.max(1L, (rows + 65535) / 65536).min(1 << 20).toInt)
}
