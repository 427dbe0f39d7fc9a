package graft.dedup

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The driver-side solvers behind [[Dedup]]'s driver finishes: inputs
  * that pass `Bridge.fitsOnDriver` are collected in Catalyst's internal
  * form and solved here with the distributed paths' own algorithms, so
  * both paths return the same rows. Ids and names keep Catalyst's
  * representation and ordering (UTF8String binary order for strings). */
private[dedup] object DriverFinish {

  /** [[Dedup.connectedComponents]]' driver finish over collected (a, b)
    * rows of id type `t`: every non-NULL id labelled with its
    * component's minimum under Catalyst's ordering for `t` (the label
    * the star rounds' `min`/`least` converge to). Self-loops and rows
    * with a NULL endpoint add ids but join nothing; a NULL id labels
    * itself NULL, as the star path's left join leaves it. Union-find
    * over `Int` indices into the sorted distinct ids: union by smaller
    * index keeps every root its component's minimum. */
  def components(edges: Seq[InternalRow], t: DataType): Seq[InternalRow] = {
    val ord = PhysicalDataType.ordering(t)
    val ids = mutable.ArrayBuffer.empty[Any]
    edges.flatMap(r => (0 to 1).filterNot(r.isNullAt).map(r.get(_, t)))
      .sorted(ord)
      .foreach(v => if (ids.isEmpty || ord.compare(ids.last, v) != 0) ids += v)
    def index(v: Any): Int = ids.search(v)(ord).insertionPoint
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val x = find(index(r.get(0, t)))
        val y = find(index(r.get(1, t)))
        if (x < y) parent(y) = x else if (y < x) parent(x) = y
      }
    }
    val labelled = ids.indices.map(i => InternalRow(ids(i), ids(find(i))))
    if (edges.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      labelled :+ InternalRow(null, null)
    else labelled
  }

  /** [[Dedup.minhashCandidatePairs]]' and
    * [[Dedup.polyMinhashCandidatePairs]]' driver finish over collected
    * (id, text_hash, sig, keys) rows, one per document with shingles
    * (id of type `t`, `keys` the family's `bands` band keys of
    * `keyType`). As the distributed path does, exact duplicates collapse
    * to their minimum id per text_hash, a (band, key) bucket of more
    * than `maxBucketSize` members is dropped and counted, every other
    * bucket emits its distinct id_a < id_b pairs, and each pair scores
    * its matching signature components over `numHashes` in doubles, kept
    * at est_jaccard ≥ `minEstSim`. Band keys compare as Spark's join
    * does: longs by value, arrays by their unsafe bytes. Returns the
    * rows and the observation's (dropped_buckets, dropped_rows); None
    * when an id is NULL or one id names two texts (the distributed
    * path's id-keyed joins define that case). */
  def bandedPairs(docs: Array[InternalRow], t: DataType, keyType: DataType,
                  bands: Int, numHashes: Int, minEstSim: Double,
                  maxBucketSize: Int)
      : Option[(Seq[InternalRow], (Long, Long))] = {
    val ord = PhysicalDataType.ordering(t)
    if (docs.exists(_.isNullAt(0))) return None
    val minByText = mutable.HashMap.empty[UTF8String, InternalRow]
    docs.foreach { r =>
      val h = r.getUTF8String(1)
      if (minByText.get(h).forall(k => ord.compare(r.get(0, t), k.get(0, t)) < 0))
        minByText(h) = r
    }
    val reps = minByText.values.toArray.sortBy(_.get(0, t))(ord)
    val ids = reps.map(_.get(0, t))
    if (repeats(ids, ord)) return None
    // members of every kept bucket, as (i << 32 | j) over the id-sorted reps
    val pairs = mutable.ArrayBuilder.make[Long]
    var droppedBuckets = 0L
    var droppedRows = 0L
    (0 until bands).foreach { b =>
      val byKey = mutable.HashMap.empty[Any, mutable.ArrayBuilder.ofInt]
      reps.indices.foreach { i =>
        byKey.getOrElseUpdate(reps(i).getArray(3).get(b, keyType),
          new mutable.ArrayBuilder.ofInt) += i
      }
      byKey.valuesIterator.map(_.result()).foreach { m =>
        if (m.length > maxBucketSize) {
          droppedBuckets += 1
          droppedRows += m.length
        }
        else for (x <- m.indices; y <- x + 1 until m.length)
          pairs += (m(x).toLong << 32) | m(y)
      }
    }
    val sigs = reps.map(_.getArray(2).toLongArray())
    val packed = pairs.result()
    java.util.Arrays.sort(packed)
    val out = mutable.ArrayBuffer.empty[InternalRow]
    packed.indices.foreach { k =>
      if (k == 0 || packed(k) != packed(k - 1)) {
        val (i, j) = ((packed(k) >>> 32).toInt, packed(k).toInt)
        val est = sigs(i).indices.count(c => sigs(i)(c) == sigs(j)(c)).toDouble /
          numHashes.toDouble
        if (est >= minEstSim) out += InternalRow(ids(i), ids(j), est)
      }
    }
    Some((out.toSeq, (droppedBuckets, droppedRows)))
  }

  /** [[Dedup.jaccardOnPairs]]' driver finish over collected (id_a, id_b)
    * pairs and (id, sg) documents, ids of one type `t` and sg each
    * document's sorted shingles of type `sgType`. The distributed path's
    * two id-keyed inner joins, under Catalyst's ordering for `t`: a pair
    * naming a NULL or missing id drops out, and a repeated pair or id
    * repeats its rows. `jaccard` is `SortedIntersectCount`'s kernel over
    * the two sets and the distributed double expression, NULL when a set
    * is NULL or both are empty (`try_divide`'s 0/0). */
  def verifiedPairs(pairs: Array[InternalRow], docs: Array[InternalRow],
                    t: DataType, sgType: DataType): Seq[InternalRow] = {
    val byId = new java.util.TreeMap[Any, mutable.ArrayBuffer[InternalRow]](
      PhysicalDataType.ordering(t))
    docs.filterNot(_.isNullAt(0)).foreach(r =>
      byId.computeIfAbsent(r.get(0, t), _ => mutable.ArrayBuffer.empty) += r)
    def docsOf(r: InternalRow, field: Int): Seq[InternalRow] =
      if (r.isNullAt(field)) Nil
      else Option(byId.get(r.get(field, t))).fold(Seq.empty[InternalRow])(_.toSeq)
    val kernel = graft.expressions.SortedIntersectCount(
      BoundReference(0, sgType, nullable = true),
      BoundReference(1, sgType, nullable = true))
    for {
      p <- pairs.toSeq
      x <- docsOf(p, 0)
      y <- docsOf(p, 1)
    } yield {
      val jaccard =
        if (x.isNullAt(1) || y.isNullAt(1)) null
        else {
          val (sa, sb) = (x.getArray(1), y.getArray(1))
          val inter = kernel.nullSafeEval(sa, sb).asInstanceOf[Long].toDouble
          val union = (sa.numElements() + sb.numElements()).toDouble - inter
          if (union == 0.0) null else java.lang.Double.valueOf(inter / union)
        }
      InternalRow(p.get(0, t), p.get(1, t), jaccard)
    }
  }

  /** [[Dedup.prefixJaccardPairs]]' driver finish over collected
    * (id, sg) rows (id of type `t`, sg the document's distinct shingles):
    * PPJoin over the distributed path's global order — document
    * frequency ascending, then shingle ascending — mapped to `Int`
    * ranks. Documents are visited in (n, id) order; each probes the
    * inverted index of the earlier documents' index prefixes
    * (n − ⌈2τ/(1+τ)·n⌉ + 1 ranks) with its probe prefix
    * (n − ⌈τ·n⌉ + 1 ranks) under the same length filter, then indexes
    * its own prefix. The positional filter bounds the overlap counted so
    * far plus what the two rests can still share, which prunes more than
    * the distributed path's bound on one shared shingle. Candidates are
    * verified by a merge walk over the rank arrays that stops once the
    * Jaccard floor is out of reach, and `jaccard` is the distributed
    * path's double expression. Returns the (id_a, id_b, jaccard) rows
    * with jaccard ≥ τ and the number of candidates verified, or None
    * when an id is NULL or repeated (the distributed path's id-keyed
    * joins define that case). */
  def prefixJaccard(docs: Array[InternalRow], t: DataType,
                    tau: Double): Option[(Seq[InternalRow], Long)] = {
    val ord = PhysicalDataType.ordering(t)
    if (docs.exists(_.isNullAt(0))) return None
    val ids = docs.map(_.get(0, t))
    if (repeats(ids.sorted(ord), ord)) return None
    // Int dictionary over the vocabulary, then global ranks by (df, shingle)
    val dict = new java.util.HashMap[UTF8String, Integer]()
    val words = mutable.ArrayBuffer.empty[UTF8String]
    val df = mutable.ArrayBuffer.empty[Int]
    val tokens = docs.map { r =>
      val sg = r.getArray(1)
      Array.tabulate(sg.numElements()) { i =>
        val s = sg.getUTF8String(i)
        val w = dict.computeIfAbsent(s, _ => { words += s; df += 0; words.size - 1 })
        df(w) += 1
        w.intValue
      }
    }
    val byRarity = words.indices.sortWith((x, y) =>
      df(x) < df(y) || (df(x) == df(y) && words(x).compareTo(words(y)) < 0))
    val rank = new Array[Int](words.size)
    byRarity.indices.foreach(r => rank(byRarity(r)) = r)
    val sets = tokens.map { tk => val a = tk.map(rank); java.util.Arrays.sort(a); a }
    val order = docs.indices.sortWith((x, y) => sets(x).length < sets(y).length ||
      (sets(x).length == sets(y).length && ord.compare(ids(x), ids(y)) < 0))
    // the distributed path's prefix arithmetic, term for term
    val idxFrac = 2.0 * tau / (1.0 + tau)
    // J ≥ τ needs |A∩B| ≥ τ/(1+τ)·(|A|+|B|); the 1e-9 slack keeps the
    // double arithmetic from ever rounding the floor above the exact one
    val posFrac = tau / (1.0 + tau)
    def required(nx: Int, ny: Int): Int = math.ceil(posFrac * (nx + ny) - 1e-9).toInt
    // inverted index: per rank, (doc position << 32 | 1-based rank) entries
    val postings = new Array[Array[Long]](words.size)
    val nPostings = new Array[Int](words.size)
    // overlap(x): common shingles of x and the probing doc seen so far,
    // valid when stamp(x) is the probing doc; -1 once x is pruned
    val stamp = Array.fill(docs.length)(-1)
    val overlap = new Array[Int](docs.length)
    val out = mutable.ArrayBuffer.empty[InternalRow]
    var candidates = 0L
    order.indices.foreach { p =>
      val y = sets(order(p))
      val ny = y.length
      val minNx = math.ceil(tau * ny).toInt
      val touched = mutable.ArrayBuilder.make[Int]
      var j = 0
      while (j < ny - minNx + 1) { // probe prefix
        val w = y(j)
        var k = 0
        while (k < nPostings(w)) {
          val xp = (postings(w)(k) >>> 32).toInt
          val nx = sets(order(xp)).length
          if (nx >= minNx) {
            if (stamp(xp) != p) { stamp(xp) = p; overlap(xp) = 0; touched += xp }
            // positional filter: the common shingles before this one,
            // this one, and at most every later shingle of the shorter rest
            val ri = postings(w)(k).toInt
            if (overlap(xp) >= 0)
              overlap(xp) =
                if (overlap(xp) + 1 + math.min(nx - ri, ny - j - 1) >= required(nx, ny))
                  overlap(xp) + 1
                else -1
          }
          k += 1
        }
        j += 1
      }
      touched.result().foreach { xp =>
        if (overlap(xp) >= 0) {
          candidates += 1
          val x = sets(order(xp))
          val common = intersectSorted(x, y, required(x.length, ny))
          if (common >= 0) {
            val inter = common.toDouble
            val jaccard = inter / ((x.length + ny).toDouble - inter)
            if (jaccard >= tau) {
              val (a, b) = (ids(order(xp)), ids(order(p)))
              out += (if (ord.compare(a, b) < 0) InternalRow(a, b, jaccard)
                else InternalRow(b, a, jaccard))
            }
          }
        }
      }
      j = 0
      while (j < ny - math.ceil(idxFrac * ny).toInt + 1) { // index prefix
        val w = y(j)
        if (postings(w) == null) postings(w) = new Array[Long](4)
        else if (nPostings(w) == postings(w).length)
          postings(w) = java.util.Arrays.copyOf(postings(w), 2 * nPostings(w))
        postings(w)(nPostings(w)) = (p.toLong << 32) | (j + 1)
        nPostings(w) += 1
        j += 1
      }
    }
    Some((out.toSeq, candidates))
  }

  /** Whether sorted ids hold a repeated value under `ord`. */
  private def repeats(sorted: Array[Any], ord: Ordering[Any]): Boolean =
    sorted.indices.drop(1).exists(i => ord.compare(sorted(i - 1), sorted(i)) == 0)

  /** Common elements of two ascending `Int` arrays by merge walk, or -1
    * as soon as fewer than `need` remain possible. */
  private def intersectSorted(x: Array[Int], y: Array[Int], need: Int): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < x.length && j < y.length) {
      if (n + math.min(x.length - i, y.length - j) < need) return -1
      if (x(i) < y(j)) i += 1
      else if (x(i) > y(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    if (n < need) -1 else n
  }

  /** [[Dedup.fuzzyNamePairs]]' driver finish over the distinct non-NULL
    * names: the distributed path's length × segment blocking, key for
    * key. Each name indexes its d+1 home segments under its own length;
    * each name then probes every partner length in [len − d, len + d],
    * every segment of that length's split and every start shift the
    * indel-budget window allows. Candidates are the distinct
    * (name_a, name_b) with name_a < name_b in UTF8String binary order,
    * verified by `TextKernels.boundedLevenshtein`. Returns the
    * (name_a, name_b, dist) rows with dist ≤ d and the number of
    * candidates verified. */
  def fuzzyPairs(names: IndexedSeq[UTF8String], d: Int): (Seq[InternalRow], Long) = {
    val nSeg = d + 1
    val lens = names.map(_.numChars())
    val codePoints = names.map(_.toString.codePoints().toArray)
    def split(len: Int, seg: Int): (Int, Int) = {
      val p = len * seg / nSeg
      (p, len * (seg + 1) / nSeg - p)
    }
    val home = mutable.HashMap.empty[(Int, Int, UTF8String), mutable.ArrayBuffer[Int]]
    names.indices.foreach { i =>
      (0 until nSeg).foreach { s =>
        val (p, slen) = split(lens(i), s)
        home.getOrElseUpdate((lens(i), s, names(i).substring(p, p + slen)),
          mutable.ArrayBuffer.empty) += i
      }
    }
    // seen(b) == a: (a, b) is already a candidate
    val seen = Array.fill(names.size)(-1)
    val out = mutable.ArrayBuffer.empty[InternalRow]
    var candidates = 0L
    names.indices.foreach { a =>
      val lenA = lens(a)
      for {
        len <- math.max(0, lenA - d) to lenA + d
        s <- 0 until nSeg
        (p, slen) = split(len, s)
        shift <- -d to d
        start = p + shift
        if start >= 0 && start + slen <= lenA &&
          math.abs(shift) + math.abs(lenA - len - shift) <= d
        bucket <- home.get((len, s, names(a).substring(start, start + slen)))
      } bucket.foreach { b =>
        if (seen(b) != a && names(a).compareTo(names(b)) < 0) {
          seen(b) = a
          candidates += 1
          val dist = graft.expressions.TextKernels
            .boundedLevenshtein(codePoints(a), codePoints(b), d)
          if (dist <= d) out += InternalRow(names(a), names(b), dist)
        }
      }
    }
    (out.toSeq, candidates)
  }
}
