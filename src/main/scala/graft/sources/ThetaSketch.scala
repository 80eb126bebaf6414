package graft.sources

/** Apache DataSketches compact theta sketch, write + read, from the
  * published format (datasketches.apache.org theta serialization
  * spec; `apache-datasketches-theta-v1` is what an Iceberg puffin
  * statistics blob carries). The engine builds sketches over Long
  * keys with the library's exact hashing discipline — MurmurHash3
  * x64-128 (public domain algorithm, Austin Appleby) over the 8-byte
  * little-endian value with the default update seed 9001, keeping
  * `hash >>> 1` — so ThetaSketchSpec can cross-verify the bytes
  * through datasketches-java itself.
  *
  * Only the compact ORDERED form is produced: empty (preamble 1
  * long), exact (preamble 2 longs, all hashes retained, theta = 1.0)
  * and estimation (preamble 3 longs, theta < 1.0) when the retained
  * set would exceed k. NDV estimate = retained / theta; in exact mode
  * that is the EXACT distinct count — the property q356's oracle
  * pins against DuckDB.
  */
object ThetaSketch {

  val DefaultSeed = 9001L
  val DefaultLgK = 12 // k = 4096, the library default

  // ---- MurmurHash3 x64-128 over long[] (datasketches discipline) ----------

  private val C1 = 0x87c37b91114253d5L
  private val C2 = 0x4cf5ad432745937fL

  private def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** hash(long[] {v}, seed)[0] — one 8-byte tail block. */
  def hashLong(v: Long, seed: Long): Long = {
    var h1 = seed
    var h2 = seed
    var k1 = v
    k1 *= C1
    k1 = java.lang.Long.rotateLeft(k1, 31)
    k1 *= C2
    h1 ^= k1
    h1 ^= 8L
    h2 ^= 8L
    h1 += h2
    h2 += h1
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 += h2
    h1
  }

  /** The library's 16-bit seed hash (hash of the seed under seed 0);
    * zero is illegal by construction for the default seed.
    */
  def seedHash(seed: Long): Int = (hashLong(seed, 0L) & 0xffffL).toInt

  /** The update-path key hash: positive 63-bit. */
  def keyHash(v: Long, seed: Long = DefaultSeed): Long =
    hashLong(v, seed) >>> 1

  // ---- compact ordered serialization ---------------------------------------

  private val FlagReadOnly = 2
  private val FlagEmpty = 4
  private val FlagCompact = 8
  private val FlagOrdered = 16

  /** Build a compact ordered sketch over raw Long keys. */
  def compact(values: Iterable[Long], lgK: Int = DefaultLgK,
              seed: Long = DefaultSeed): Array[Byte] = {
    val k = 1 << lgK
    var theta = Long.MaxValue
    val set = new java.util.TreeSet[java.lang.Long]()
    values.foreach { v =>
      val h = keyHash(v, seed)
      if (h < theta && h != 0) {
        set.add(h)
        if (set.size > k) {
          // sampling mode: keep the k smallest, theta = (k+1)-th
          val it = set.descendingIterator()
          theta = it.next()
          it.remove()
        }
      }
    }
    // drop survivors >= theta (when theta moved below earlier adds)
    while (!set.isEmpty && set.last() >= theta && theta != Long.MaxValue)
      set.remove(set.last())
    serialize(set, theta, seed)
  }

  /** Compact ordered serialization of a hash set + theta. */
  private def serialize(set: java.util.TreeSet[java.lang.Long],
                        theta: Long, seed: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val empty = set.isEmpty && theta == Long.MaxValue
    val preLongs =
      if (empty) 1 else if (theta == Long.MaxValue) 2 else 3
    out.write(preLongs)
    out.write(3) // serial version
    out.write(3) // family COMPACT
    out.write(0) // lgNomLongs (unused in compact)
    out.write(0) // lgArrLongs (unused in compact)
    out.write(FlagReadOnly | FlagCompact | FlagOrdered |
      (if (empty) FlagEmpty else 0))
    Bytes.putLe16(out, seedHash(seed))
    if (!empty) {
      Bytes.putLe32(out, set.size)
      Bytes.putLe32(out, 0) // unused
      if (preLongs == 3) Bytes.putLe64(out, theta)
      val it = set.iterator()
      while (it.hasNext) Bytes.putLe64(out, it.next())
    }
    out.toByteArray
  }

  /** Retained hashes + raw theta of a compact sketch (the union
    * inputs); validated exactly like [[parse]].
    */
  def parseEntries(b: Array[Byte], seed: Long = DefaultSeed)
      : Option[(Array[Long], Long)] =
    parse(b, seed).map { r =>
      val preLongs = b(0) & 0x3f
      if (r.empty) (Array.emptyLongArray, Long.MaxValue)
      else {
        val theta = if (preLongs == 3) Bytes.le64(b, 16) else Long.MaxValue
        ((0 until r.retained)
          .map(i => Bytes.le64(b, preLongs * 8 + i * 8)).toArray, theta)
      }
    }

  /** Set union of compact sketches — the incremental-maintenance
    * primitive: a new snapshot's NDV sketch is union(old, new-file)
    * with NO rescan. thetaU = min of input thetas, survivors < thetaU
    * re-limited to k; in exact mode (all inputs exact, union below k)
    * the union is EXACT — q363's oracled law. None if any input is
    * malformed.
    */
  def union(sketches: Seq[Array[Byte]], lgK: Int = DefaultLgK,
            seed: Long = DefaultSeed): Option[Array[Byte]] = {
    val k = 1 << lgK
    val parsed = sketches.map(parseEntries(_, seed))
    if (parsed.exists(_.isEmpty)) return None
    var theta = Long.MaxValue
    parsed.foreach(p => theta = math.min(theta, p.get._2))
    val set = new java.util.TreeSet[java.lang.Long]()
    parsed.foreach(_.get._1.foreach { h =>
      if (h < theta) {
        set.add(h)
        ()
      }
    })
    while (set.size > k) {
      val it = set.descendingIterator()
      theta = it.next()
      it.remove()
    }
    while (!set.isEmpty && set.last() >= theta &&
      theta != Long.MaxValue)
      set.remove(set.last())
    Some(serialize(set, theta, seed))
  }

  /** Set intersection of compact sketches: thetaI = min of thetas,
    * survivors = hashes below thetaI present in EVERY input. Exact
    * when all inputs are exact. None on malformed input or empty
    * input list.
    */
  def intersect(sketches: Seq[Array[Byte]],
                seed: Long = DefaultSeed): Option[Array[Byte]] = {
    if (sketches.isEmpty) return None
    val parsed = sketches.map(parseEntries(_, seed))
    if (parsed.exists(_.isEmpty)) return None
    var theta = Long.MaxValue
    parsed.foreach(p => theta = math.min(theta, p.get._2))
    val sets = parsed.map(_.get._1.filter(_ < theta).toSet)
    val common = sets.reduce(_ intersect _)
    val set = new java.util.TreeSet[java.lang.Long]()
    common.foreach { h => set.add(h); () }
    Some(serialize(set, theta, seed))
  }

  /** A \ B (a-not-b): hashes of A below min(thetaA, thetaB) absent
    * from B — "what does this snapshot ADD", computable from two
    * sketches with no rescan. Exact when both inputs are exact.
    */
  def aNotB(a: Array[Byte], b: Array[Byte],
            seed: Long = DefaultSeed): Option[Array[Byte]] =
    for {
      (ae, at) <- parseEntries(a, seed)
      (be, bt) <- parseEntries(b, seed)
    } yield {
      val theta = math.min(at, bt)
      val bSet = be.filter(_ < theta).toSet
      val set = new java.util.TreeSet[java.lang.Long]()
      ae.filter(h => h < theta && !bSet(h)).foreach { h =>
        set.add(h); ()
      }
      serialize(set, theta, seed)
    }

  final case class Result(estimate: Double, retained: Int,
                          theta: Double, empty: Boolean)

  /** Parse a compact theta sketch; None on any malformation or a
    * seed-hash mismatch.
    */
  def parse(b: Array[Byte], seed: Long = DefaultSeed)
      : Option[Result] = {
    if (b.length < 8) return None
    val preLongs = b(0) & 0x3f
    if ((b(1) & 0xff) != 3 || (b(2) & 0xff) != 3) return None
    if (Bytes.le16(b, 6) != seedHash(seed)) return None
    val flags = b(5) & 0xff
    if ((flags & FlagCompact) == 0) return None
    if ((flags & FlagEmpty) != 0)
      return if (preLongs == 1 && b.length == 8)
        Some(Result(0.0, 0, 1.0, empty = true))
      else None
    if (preLongs != 2 && preLongs != 3) return None
    if (b.length < preLongs * 8) return None
    val retained = Bytes.le32(b, 8)
    if (retained < 0) return None
    val theta =
      if (preLongs == 3) Bytes.le64(b, 16) else Long.MaxValue
    if (b.length != preLongs * 8 + retained * 8) return None
    var prev = 0L
    var i = 0
    while (i < retained) {
      val h = Bytes.le64(b, preLongs * 8 + i * 8)
      if (h <= prev || h >= theta) return None // ordered, < theta
      prev = h
      i += 1
    }
    val thetaD = theta.toDouble / Long.MaxValue.toDouble
    Some(Result(retained / thetaD, retained, thetaD, empty = false))
  }
}
