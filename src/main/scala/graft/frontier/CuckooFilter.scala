package graft.frontier

/** Cuckoo filter over 64-bit url hashes — the URL-seen set of the frontier
  * (north rule; replaces scrapy's in-memory RFPDupeFilter,
  * /root/reference/webspot/crawler/crawler/settings.py:90, with a
  * partitioned, serializable, mergeable structure).
  *
  * Classic (2,4)-cuckoo: 4 slots per bucket, 16-bit fingerprints,
  * partial-key displacement (Fan et al., "Cuckoo Filter: Practically Better
  * Than Bloom", CoNEXT'14 — public paper). ~2.1 bytes/key at 95% load,
  * fp-rate ≈ 2*4/2^16 ≈ 1.2e-4.
  *
  * No false negatives: a probe miss is a guaranteed new url, so the exact
  * anti-join backstop (J5) only has to verify the cuckoo-POSITIVE subset.
  */
final class CuckooFilter private (
    val numBuckets: Int, // power of two
    val table: Array[Short],
    private var count: Long,
    // stash of homeless (bucketIndex, fingerprint) pairs left over when a
    // displacement chain exhausts MaxKicks — the victim's key would otherwise
    // become a false negative. Encoded (i << 16) | fp.
    private var stash: java.util.HashSet[java.lang.Long]) extends Serializable {

  import CuckooFilter._

  def size: Long = count

  /** Total slot capacity (keys at load 1.0). */
  def capacity: Long = numBuckets.toLong * SlotsPerBucket

  /** Entries in the exact stash (0 in a healthy filter; grows only when a
    * displacement chain exhausts MaxKicks — i.e. the filter is overfull).
    */
  def stashSize: Int = stash.size()

  /** Can `n` more keys be inserted without exceeding the load limit? The
    * fold path checks this BEFORE inserting and rebuilds at 2x instead of
    * letting the stash degrade into an exact hash set (VERDICT r2 #1).
    */
  def hasRoomFor(n: Long): Boolean = count + n <= (capacity * LoadLimit).toLong

  private def stashKey(i: Int, fp: Short): java.lang.Long =
    java.lang.Long.valueOf((i.toLong << 16) | (fp.toLong & 0xffffL))

  private def bucketIndex(h: Long): Int = (spread(h) & (numBuckets - 1)).toInt

  private def fingerprint(h: Long): Short = {
    val f = (spread(h ^ 0x9e3779b97f4a7c15L) & 0xffff).toInt
    (if (f == 0) 1 else f).toShort
  }

  private def altIndex(i: Int, fp: Short): Int =
    (i ^ (spread(fp.toLong & 0xffffL) & (numBuckets - 1)).toInt) & (numBuckets - 1)

  private def slotBase(i: Int): Int = i * SlotsPerBucket

  private def tryInsertAt(i: Int, fp: Short): Boolean = {
    val base = slotBase(i)
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(base + s) == 0) { table(base + s) = fp; return true }
      s += 1
    }
    false
  }

  /** Insert. Membership is always sound afterwards: if the displacement loop
    * exhausts MaxKicks the final homeless fingerprint goes to the exact
    * stash (no false negatives ever — SURVEY.md §7.5 risk 4).
    */
  def add(h: Long): Boolean = {
    if (contains(h)) return true
    var fp = fingerprint(h)
    val i1 = bucketIndex(h)
    if (tryInsertAt(i1, fp)) { count += 1; return true }
    val i2 = altIndex(i1, fp)
    if (tryInsertAt(i2, fp)) { count += 1; return true }
    // displacement loop (bounded)
    var i = if (((h ^ fp) & 1L) == 0L) i1 else i2
    var n = 0
    while (n < MaxKicks) {
      val base = slotBase(i)
      val victimSlot = ((spread(h + n) & 0x7fffffff) % SlotsPerBucket).toInt
      val victim = table(base + victimSlot)
      table(base + victimSlot) = fp
      fp = victim
      i = altIndex(i, fp)
      if (tryInsertAt(i, fp)) { count += 1; return true }
      n += 1
    }
    // homeless victim fingerprint: stash it (its key's buckets are exactly
    // {i, altIndex(i, fp)} because altIndex is an involution)
    stash.add(stashKey(i, fp))
    count += 1
    true
  }

  def contains(h: Long): Boolean = {
    val fp = fingerprint(h)
    val i1 = bucketIndex(h)
    val b1 = slotBase(i1)
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(b1 + s) == fp) return true
      s += 1
    }
    val i2 = altIndex(i1, fp)
    val b2 = slotBase(i2)
    s = 0
    while (s < SlotsPerBucket) {
      if (table(b2 + s) == fp) return true
      s += 1
    }
    stash.contains(stashKey(i1, fp)) || stash.contains(stashKey(i2, fp))
  }

  /** Deterministic, compact serialization (FIXTURES.md §5 cuckoo_bytes). */
  def toBytes: Array[Byte] = {
    val ovf = {
      val arr = new Array[Long](stash.size())
      val it = stash.iterator()
      var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      java.util.Arrays.sort(arr)
      arr
    }
    val bb = java.nio.ByteBuffer.allocate(4 + 4 + 8 + table.length * 2 + 4 + ovf.length * 8)
    bb.putInt(Magic)
    bb.putInt(numBuckets)
    bb.putLong(count)
    table.foreach(bb.putShort)
    bb.putInt(ovf.length)
    ovf.foreach(bb.putLong)
    bb.array()
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500
  /** Max load factor before a rebuild-at-2x (Fan et al. report ~95% feasible
    * for 4-slot buckets; 0.9 keeps displacement chains short).
    */
  val LoadLimit = 0.9
  private val Magic = 0xc0c0f11e

  private def spread(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  def create(expectedKeys: Long): CuckooFilter = {
    val needed = math.max(16L, (expectedKeys / (SlotsPerBucket * LoadLimit)).toLong + 1)
    var nb = 16
    while (nb < needed && nb < (1 << 29)) nb <<= 1
    new CuckooFilter(nb, new Array[Short](nb * SlotsPerBucket), 0L, new java.util.HashSet())
  }

  def fromBytes(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == Magic, "bad cuckoo filter bytes")
    val nb = bb.getInt()
    val count = bb.getLong()
    val table = new Array[Short](nb * SlotsPerBucket)
    var i = 0
    while (i < table.length) { table(i) = bb.getShort(); i += 1 }
    val ovfN = bb.getInt()
    val ovf = new java.util.HashSet[java.lang.Long]()
    i = 0
    while (i < ovfN) { ovf.add(java.lang.Long.valueOf(bb.getLong())); i += 1 }
    new CuckooFilter(nb, table, count, ovf)
  }

  /** Grow-and-reinsert merge: used when a bucket's filter approaches load
    * limit at snapshot time (keys re-derivable from the exact seen table).
    */
  def rebuild(hashes: Iterator[Long], expected: Long): CuckooFilter = {
    val f = create(expected)
    hashes.foreach(f.add)
    f
  }
}
