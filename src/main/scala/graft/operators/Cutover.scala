package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}

/** Small-input cutover for the iterative operators: below a size limit
  * the whole operator runs as ONE executor task over primitive arrays;
  * above it, the operator's distributed loop runs.
  *
  * A distributed fixpoint pays a few jobs of scheduling per round, and
  * at bench scale that fixed cost dominates the round's real work and
  * amplifies under a loaded suite JVM (r6→r7: `q_x_pagerank` 33.9 →
  * 2.33 s; r16: BPE ~110 ms/job × ~40 jobs for ~10 ms of work per
  * round). Each one-task fold replays its distributed loop's arithmetic
  * exactly, so both paths satisfy the same oracle, and no row ever
  * reaches the driver.
  *
  * The limits and the task memory they bound (SCALE.md "One-task
  * cutover constants"):
  *  - [[PageRankEdges]], 2M undirected edges: the edge fold is two
  *    [[IntBuf]]s (8 B/edge ≈ 16 MB); the label side dominates worst
  *    case — up to 2 nodes/edge, each a String (~56 B), a HashMap entry
  *    (~48 B) and a boxed Integer (~16 B) in the [[Interner]] ≈ 130 B →
  *    ≤ ~500 MB at 4M nodes. Typical graphs (nodes ≪ edges) sit far
  *    below.
  *  - [[HitsEdges]], 2M distinct directed edges: the same fold and
  *    label math, split over a hub and an authority interner.
  *  - [[ClusterEdges]], 1M edges (both orientations of each pair):
  *    union-find over primitive long/int arrays, ~32 B/edge ≈ 32 MB.
  *  - [[BpeChars]], 32M corpus chars: tokens dominate, ~60 B/token
  *    (String header + chars) at ~5 chars/token → ≤ ~400 MB.
  *  - [[PcaRows]], 20M (vec_id, pos, cv) rows: primitive buffers at
  *    16 B/row ≈ 320 MB, plus the vector interner (~25 MB at 312k
  *    vectors).
  *
  * Every path taken is recorded: [[run]] sets the Spark local property
  * [[Key]] to `op=… path=one-task|distributed gate=… limit=…` around
  * the chosen path, so each job of that path carries it into the event
  * log. Specs pick a path through [[forcing]]; nothing else can.
  */
object Cutover {

  val PageRankEdges: Long = 2000000L
  val HitsEdges: Long = 2000000L
  val ClusterEdges: Long = 1000000L
  val BpeChars: Long = 32L * 1024 * 1024
  val PcaRows: Long = 20000000L

  /** The Spark local property naming the path a job belongs to. */
  val Key = "graft.cutover"

  sealed abstract class Path(val name: String)
  case object OneTask extends Path("one-task")
  case object Distributed extends Path("distributed")

  private val forced = new scala.util.DynamicVariable[Option[Path]](None)

  /** Run `body` with every [[run]] on this thread taking `path`; the
    * previous choice is restored when `body` returns or throws. */
  private[graft] def forcing[A](path: Path)(body: => A): A =
    forced.withValue(Some(path))(body)

  /** Take `oneTask` when the measured `gate` is at most `limit` (and
    * `oneTaskFits`, for inputs the fold cannot read), else
    * `distributed`, with [[Key]] set for the jobs that path runs. */
  def run[A](op: String, gate: Long, limit: Long, oneTaskFits: Boolean = true)(
      oneTask: => A)(distributed: => A): A = {
    val path =
      if (!oneTaskFits) Distributed
      else forced.value.getOrElse(if (gate <= limit) OneTask else Distributed)
    val sc = SparkContext.getOrCreate()
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s"op=$op path=${path.name} gate=$gate limit=$limit")
    try if (path == OneTask) oneTask else distributed
    finally sc.setLocalProperty(Key, prev)
  }

  /** The one-task fold: every row of `in` through `f` inside ONE
    * executor task, materialized, then the `cached` inputs released. */
  def fold[T, U: Encoder](in: Dataset[T], cached: DataFrame*)(
      f: Iterator[T] => Iterator[U]): DataFrame =
    Dedup.materializeThenRelease(in.coalesce(1).mapPartitions(f).toDF(), cached: _*)
}

/** Manually-grown PRIMITIVE buffers for the one-task folds.
  *
  * `scala.collection.mutable.ArrayBuffer[Int]` boxes every element
  * (~16 B per `java.lang.Integer` plus the reference), so folding a
  * multi-million-row iterator through it multiplies the cutover's
  * memory estimate by ~5× and churns the GC inside the single task.
  * These buffers append into raw `Array[Int]`/`Array[Double]` with
  * doubling growth — 4/8 bytes per element, amortized O(1) append —
  * so the byte math the [[Cutover]] limits are sized from actually
  * holds at the gate.
  */
private[operators] final class IntBuf(initial: Int = 1 << 10) {
  private var a = new Array[Int](math.max(initial, 8))
  private var n = 0
  def +=(v: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
    a(n) = v; n += 1
  }
  def apply(i: Int): Int = a(i)
  def length: Int = n
}

private[operators] final class DoubleBuf(initial: Int = 1 << 10) {
  private var a = new Array[Double](math.max(initial, 8))
  private var n = 0
  def +=(v: Double): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
    a(n) = v; n += 1
  }
  def apply(i: Int): Double = a(i)
  def length: Int = n
}

/** Dense ids for the labels a one-task fold meets: the first label seen
  * is 0, the next new one 1, …; [[apply]] maps an id back. */
private[operators] final class Interner[K] {
  private val ids = new java.util.HashMap[K, Integer]()
  private val keys = new java.util.ArrayList[K]()
  def id(k: K): Int = {
    val e = ids.get(k)
    if (e != null) e.intValue()
    else { val i = keys.size; ids.put(k, i); keys.add(k); i }
  }
  def apply(i: Int): K = keys.get(i)
  def size: Int = keys.size
}
