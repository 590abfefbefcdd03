package graft.streaming

import java.io.DataInputStream
import java.nio.ByteBuffer
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

/** File-backed partitioned queue topic — the `graftqueue` connector's
  * transport (S3/S4). Two SEPARATE JVMs can produce to and consume from
  * the same topic directory, which reproduces the reference's process
  * topology (six OS processes connected by a broker,
  * config/apm_config.json:87-178; queue.js:206-305) without needing a
  * broker jar: the durable medium is the filesystem instead of a
  * broker's log. The graph ([[ApmGraph]]) hands off through parquet
  * topic directories or through this transport.
  *
  * The broker contract the stage code relies on (pinned by
  * `FileTopicConformance`, QueueContractSpec):
  *
  *  - an append-only PARTITIONED log; a record's partition is chosen by
  *    key hash (null keys round-robin), and ordering is guaranteed only
  *    WITHIN a partition — exactly Kafka's guarantee, and why every
  *    keyed stage must tolerate cross-key reordering;
  *  - monotonic per-partition OFFSETS, assigned at append;
  *  - consumers poll BATCHES from their current position (maxPoll maps
  *    to `maxOffsetsPerTrigger`: the batch bound a micro-batch trigger
  *    would read);
  *  - a consumer GROUP holds durable committed offsets; a restarted
  *    consumer of the same group resumes from the last COMMIT, not the
  *    last poll — so anything polled but not committed is redelivered:
  *    AT-LEAST-ONCE, which is why the stages' sinks are idempotent
  *    (parquet overwrite per batch id / stateful dedup), mirroring how
  *    Structured Streaming turns Kafka's at-least-once into effective
  *    exactly-once via checkpointed offsets + idempotent sinks (S7);
  *  - `endOffsets` is the consumer-lag denominator (monitoring parity
  *    with the reference's queue-depth flow control, S2).
  *
  * Layout under `dir/`:
  *  - `format`          — on-disk format version ("4": end-indexed,
  *                        generation-compacted, %XX-encoded state-file
  *                        names); an unmarked non-empty directory is
  *                        refused at open rather than silently
  *                        reinterpreted;
  *  - `meta`            — the topic's partition count, fixed at creation;
  *  - `pN.gen`          — partition N's current generation and base
  *                        offset ("g:base", absent = "0:0"): retention
  *                        ([[truncateToCommitted]]) rewrites the kept
  *                        tail into generation g+1 files and flips this
  *                        ONE pointer atomically — the multi-file swap a
  *                        pair of renames could tear becomes a single
  *                        ATOMIC_MOVE, and records [0, base) are gone;
  *  - `pN.G.log`        — partition N's append-only record log for
  *                        generation G, each record framed as
  *                        [keyLen|key|valLen|val] (length -1 = null),
  *                        so the log is self-describing;
  *  - `pN.G.idx`        — 8-byte big-endian byte-position where local
  *                        record i ENDS in `pN.G.log` (record i starts
  *                        at entry i-1, or 0); `base + size/8` IS the
  *                        end offset, entry i-1 seeks record i in O(1)
  *                        — reads are O(poll), not O(log) — and the
  *                        LAST entry is the log's valid length, so an
  *                        append can truncate crash debris (a torn or
  *                        un-indexed trailing frame) in O(1) without
  *                        parsing the log;
  *  - `rr`              — round-robin cursor for null-key produce;
  *  - `commits_<group>` — the group's committed offsets (the broker's
  *                        offsets topic), replaced atomically;
  *  - `fence_<q>_<p>`   — per-(query, write-partition) high-water epoch
  *                        (the idempotent-producer fence).
  *
  * Concurrency: all mutation runs under BOTH a JVM-level mutex (two
  * threads/instances of this process) and an exclusive `FileChannel`
  * lock on `dir/lock` (two processes) — `produceAll` is one such
  * critical section, preserving the contract's torn-task-batch
  * exclusion across JVMs. Readers need no lock: logs/indexes are
  * append-only and an index entry is written only AFTER its record's
  * bytes, so any offset a reader learns about is fully durable;
  * `commits_<group>` is replaced via ATOMIC_MOVE, so a reader sees
  * either the old or the new file, never a torn one.
  *
  * Durability policy: by default the transport ORDERS writes (data
  * before index, index before fence) but does not force them to disk —
  * a process crash loses nothing acked, while a power loss recovers to
  * the longest consistent prefix (see the index-ahead-of-log path in
  * [[appendBatch]]). `fsync = true` forces the log and index channels
  * before an append returns — a broker's `flush.messages=1` — closing
  * the power-loss window for acked records at the cost of a sync per
  * locked append. Retention rewrites are always forced before their
  * pointer flips, whatever the policy: compaction must never trade
  * durable old-generation bytes for torn new-generation ones.
  *
  * Scale note: this is a correctness-faithful transport for multi-
  * process deployment and tests, not a throughput fabric — the global
  * append lock serializes producers (a real broker serializes
  * per-partition). The connector's task-side buffering keeps the
  * critical section to one locked append per task, so the contract's
  * performance shape (batched produce, O(poll) reads, metadata-only
  * commits) survives; retention keeps a long-running deployment's disk
  * bounded by consumer lag instead of stream lifetime.
  */
final class FileTopic(val dir: Path, requestedPartitions: Int = 4,
    fsync: Boolean = false) {
  require(requestedPartitions >= 1)
  Files.createDirectories(dir)
  private val lockPath = dir.resolve("lock")
  private val metaPath = dir.resolve("meta")

  private def mutex: Object = FileTopic.mutexFor(dir)

  /** JVM mutex + exclusive cross-process file lock around `f`. */
  private def withLock[T](f: => T): T = mutex.synchronized {
    val ch = FileChannel.open(lockPath, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE)
    try {
      val l = ch.lock()
      try f finally l.release()
    } finally ch.close()
  }

  /** Partition count is a property of the DIRECTORY, fixed by whichever
    * process creates the topic first (matching a broker: topic width is
    * set at creation, later clients just read it). The same critical
    * section checks the on-disk `format` marker: index entries record
    * END positions (format 2); reopening a directory written by an
    * older start-indexed build would silently truncate and shift its
    * records, so an unmarked non-empty directory is refused loudly.
    */
  val nPartitions: Int = withLock {
    val fmtPath = dir.resolve("format")
    if (Files.exists(fmtPath) && Files.size(fmtPath) > 0) {
      val v = new String(Files.readAllBytes(fmtPath), UTF_8).trim
      require(v == FileTopic.Format,
        s"file topic $dir has format '$v'; this build reads " +
          s"format ${FileTopic.Format}")
    } else {
      val idxRe = "p\\d+(\\.\\d+)?\\.(idx|log)".r
      val preexisting = {
        val s = Files.list(dir)
        try {
          val it = s.iterator()
          var found = false
          while (!found && it.hasNext)
            found = idxRe.matches(it.next().getFileName.toString)
          found
        } finally s.close()
      }
      require(!preexisting,
        s"file topic $dir holds unversioned data from an older layout; " +
          s"this build reads format ${FileTopic.Format} — recreate the " +
          "topic")
      writeAtomic(fmtPath, FileTopic.Format.getBytes(UTF_8))
    }
    // GC non-current generations: a compact that crashed BEFORE its
    // pointer flip leaves g+1 debris; one that crashed AFTER leaves the
    // old g files. Either way the pointer names the one live pair.
    val genRe = "p(\\d+)\\.(\\d+)\\.(idx|log)".r
    val s = Files.list(dir)
    try s.iterator().forEachRemaining { f =>
      f.getFileName.toString match {
        case genRe(p, g, _) if g.toLong != genAndBase(p.toInt)._1 =>
          Files.deleteIfExists(f); ()
        case _ => ()
      }
    } finally s.close()
    val n =
      if (Files.exists(metaPath) && Files.size(metaPath) > 0)
        new String(Files.readAllBytes(metaPath), UTF_8).trim.toInt
      else {
        writeAtomic(metaPath, requestedPartitions.toString.getBytes(UTF_8))
        requestedPartitions
      }
    // Reconcile crash/power-loss debris at OPEN, not only on the append
    // path: a consumer-only process (no producer alive) would otherwise
    // hit the phantom-index EOF on every poll of a damaged partition
    // until some producer appends. An empty append IS the reconciliation
    // (torn index entry, phantom entries, un-indexed log bytes).
    (0 until n).foreach(p => appendBatch(p, Seq.empty))
    n
  }

  /** Partition `p`'s live (generation, base offset) — the `pN.gen`
    * pointer, absent = (0, 0). The pointer is replaced atomically, so
    * lock-free readers see either the old pair or the new one.
    */
  private def genAndBase(p: Int): (Long, Long) = {
    val f = dir.resolve(s"p$p.gen")
    if (!Files.exists(f) || Files.size(f) == 0) (0L, 0L)
    else {
      val Array(g, b) =
        new String(Files.readAllBytes(f), UTF_8).trim.split(":")
      (g.toLong, b.toLong)
    }
  }

  private def logPath(p: Int, g: Long) = dir.resolve(s"p$p.$g.log")
  private def idxPath(p: Int, g: Long) = dir.resolve(s"p$p.$g.idx")
  /** Collision-FREE file-name encoding for externally-chosen names
    * (consumer groups, query ids): every byte outside [A-Za-z0-9-.] is
    * `%XX`-escaped (uppercase hex over the UTF-8 bytes). Injective —
    * '%' itself is escaped, so distinct names can never share a file
    * (the old sanitizer mapped every special char to '_', silently
    * merging e.g. groups `a/b` and `a_b` onto one commits_ file).
    * ASCII '.' passes through so the retention pairing invariant holds
    * byte-for-byte: enc(g + ".durable") == enc(g) + ".durable" (the
    * CONTRACT rejects user groups that themselves end in ".durable",
    * so the suffix is unambiguous). Never emits '_', so a literal '_'
    * separator appended OUTSIDE enc (the fence's `_<partition>`) cannot
    * collide with name content.
    */
  private def encName(s: String): String =
    // ".durable" is all passthrough chars, so for short names this arm
    // is an identity rewrite — it exists for the CAP below: capping
    // enc(g + ".durable") directly would break the retention pairing
    // invariant enc(g + ".durable") == enc(g) + ".durable" for overlong
    // g (the suffix would land inside the truncated-away tail). Capping
    // the BASE and re-appending keeps it structural. Only commitDurable
    // can produce the suffix (the contract rejects user groups ending
    // in it), so at most one suffix layer ever arrives here.
    if (s.endsWith(".durable"))
      encName(s.dropRight(".durable".length)) + ".durable"
    else {
      val sb = new StringBuilder
      s.getBytes(UTF_8).foreach { b =>
        val c = b.toChar
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9') || c == '-' || c == '.') sb.append(c)
        else sb.append(f"%%${b & 0xff}%02X")
      }
      val raw = sb.toString
      // %XX expansion is 3x per escaped byte, so a long externally-
      // chosen name (group, query id) could push a commits_/fence_
      // component past the filesystem's 255-byte limit and fail the
      // commit with an opaque FileSystemException. Overlong names keep
      // a readable prefix and get a SHA-256 tail; '~' marks the capped
      // form — the escape loop never emits it (escaped to %7E), so a
      // capped name cannot collide with any uncapped one, and two
      // capped names collide only on a 64-bit hash prefix collision.
      // Cap + '~' + 16 hex + the longest literal decorations
      // ("commits_" / "fence_…_<partition>" / ".durable") stays well
      // under 255. Never emits '_', preserving the fence-separator
      // invariant.
      if (raw.length <= FileTopic.MaxEncodedName) raw
      else {
        // a blind take() could cut a %XX escape mid-sequence, leaving a
        // dangling '%' or '%X' before the '~' marker — harmless while
        // the prefix stays opaque, but fragile if anything ever decodes
        // it. Trim back to the previous escape boundary: a '%' at
        // position cap-1 or cap-2 started an escape that got cut.
        val cut = raw.take(FileTopic.MaxEncodedName)
        val safe =
          if (cut.length >= 2 && cut(cut.length - 2) == '%') cut.dropRight(2)
          else if (cut.nonEmpty && cut.last == '%') cut.dropRight(1)
          else cut
        safe + "~" + capHash(s)
      }
    }
  private def capHash(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes(UTF_8)).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
  }
  private def fileName(prefix: String, s: String) =
    dir.resolve(prefix + encName(s))

  /** Replace-style writes (fence, rr, meta, commits) go through a
    * dot-prefixed temp file + ATOMIC_MOVE: a plain `Files.write`
    * truncates before writing, so a crash inside it would leave a
    * 0-byte file that wedges every later read of that key — the exact
    * crash windows (fence advance, topic creation) this transport
    * reasons about. The `.tmp` prefix also cannot collide with a real
    * state file: those all start with a letter (`fileName`'s sanitizer
    * never emits a leading dot for the prefix).
    */
  private def writeAtomic(p: Path, bytes: Array[Byte]): Unit = {
    val tmp = Files.createTempFile(dir, ".tmp_", "")
    Files.write(tmp, bytes)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  // tolerate a short/empty file (pre-atomic-write crash debris) as
  // absent rather than throwing BufferUnderflow forever
  private def readLongFile(p: Path, dflt: Long): Long =
    if (Files.exists(p) && Files.size(p) >= 8)
      ByteBuffer.wrap(Files.readAllBytes(p)).getLong
    else dflt
  private def writeLongFile(p: Path, v: Long): Unit =
    writeAtomic(p, ByteBuffer.allocate(8).putLong(v).array())

  /** Index entry `i` of `ip` (8-byte big-endian record-END position);
    * the caller guarantees `i < size/8` AGAINST THE SIZE IT OBSERVED — a
    * lock-free reader can still race a reconciliation truncate (or open
    * a power-loss-shrunk index) and hit EOF mid-entry. That must THROW
    * (so [[withGen]] retries against the then-consistent files), never
    * spin: read() returns -1 forever at EOF, and the old
    * `while (hasRemaining) read` loop would hang the poll.
    */
  private def readIdxEntry(ip: Path, i: Long): Long = {
    val ich = FileChannel.open(ip, StandardOpenOption.READ)
    try {
      val bb = ByteBuffer.allocate(8)
      ich.position(i * 8)
      while (bb.hasRemaining && ich.read(bb) >= 0) ()
      if (bb.hasRemaining)
        throw new java.io.EOFException(
          s"$ip: entry $i extends past EOF (index truncated under us)")
      bb.flip(); bb.getLong
    } finally ich.close()
  }

  /** Byte length of partition `p`'s INDEXED log prefix: the last index
    * entry (entries record where each record ENDS), 0 when empty. Must
    * hold the lock when used to reconcile.
    */
  private def validLogEnd(ip: Path): Long = {
    val entries = if (Files.exists(ip)) Files.size(ip) / 8 else 0L
    if (entries == 0) 0L else readIdxEntry(ip, entries - 1)
  }

  private def frameBytes(key: String, value: String): Array[Byte] = {
    val kb = if (key == null) null else key.getBytes(UTF_8)
    val vb = if (value == null) null else value.getBytes(UTF_8)
    val frame = ByteBuffer.allocate(
      8 + (if (kb == null) 0 else kb.length) + (if (vb == null) 0 else vb.length))
    frame.putInt(if (kb == null) -1 else kb.length)
    if (kb != null) frame.put(kb)
    frame.putInt(if (vb == null) -1 else vb.length)
    if (vb != null) frame.put(vb)
    frame.array()
  }

  /** Append a batch to ONE partition — must hold the lock. All record
    * bytes are written FIRST (one channel write), their index entries
    * second (one write, in frame order): readers stay lock-free because
    * any entry they can see points at fully-durable bytes, and a task's
    * batch costs two channel opens instead of four per record. Returns
    * the first appended offset.
    *
    * Before writing, BOTH crash windows are reconciled, or sequential
    * reads would return/misparse debris and every later offset would
    * skew:
    *  - a PARTIAL trailing index entry (crash mid index write) —
    *    truncate the index back to 8-byte alignment;
    *  - un-indexed trailing log bytes (crash after frame writes, before
    *    their entries — possibly several frames, possibly torn) —
    *    truncate the log back to the last indexed record's end (the
    *    last index entry, since entries record END positions); the
    *    producer whose append died there never advanced its fence, so
    *    its retry re-appends the whole batch.
    */
  private def appendBatch(p: Int, rows: Seq[(String, String)]): Long = {
    val (gen, base) = genAndBase(p)
    val ip = idxPath(p, gen)
    if (Files.exists(ip) && Files.size(ip) % 8 != 0) {
      val tch = FileChannel.open(ip, StandardOpenOption.WRITE)
      try tch.truncate(Files.size(ip) / 8 * 8) finally tch.close()
    }
    val log = logPath(p, gen)
    var pos0 = validLogEnd(ip)
    val logSize = if (Files.exists(log)) Files.size(log) else 0L
    if (logSize < pos0) {
      // index AHEAD of log: unreachable under a process crash (an entry
      // is written only after its record bytes), but a power loss can
      // flush the index page before the log page. Entries whose end
      // exceeds the durable log are phantom — drop them from the tail,
      // then fall through to normal tail-debris truncation. The records
      // they named are lost even if acked: the transport orders writes
      // but does not fsync (a broker's flush/replication policy is its
      // own config) — recover to the longest consistent prefix rather
      // than wedging the partition forever.
      var k = Files.size(ip) / 8
      while (k > 0 && readIdxEntry(ip, k - 1) > logSize) k -= 1
      val tch = FileChannel.open(ip, StandardOpenOption.WRITE)
      try tch.truncate(k * 8) finally tch.close()
      pos0 = if (k == 0) 0L else readIdxEntry(ip, k - 1)
    }
    if (logSize > pos0) {
      val tch = FileChannel.open(log, StandardOpenOption.WRITE)
      try tch.truncate(pos0) finally tch.close()
    }
    val firstOffset =
      base + (if (Files.exists(ip)) Files.size(ip) / 8 else 0L)
    if (rows.isEmpty) return firstOffset
    val frames = rows.map { case (k, v) => frameBytes(k, v) }
    val entries = ByteBuffer.allocate(8 * frames.size)
    var end = pos0
    frames.foreach { f => end += f.length; entries.putLong(end) }
    entries.flip()
    // gather write: one syscall for the whole batch, no second copy of
    // the frame bytes under the global append lock
    val data = frames.map(ByteBuffer.wrap).toArray
    val lch = FileChannel.open(log, StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)
    try {
      while (data.exists(_.hasRemaining)) lch.write(data)
      if (fsync) lch.force(true)
    } finally lch.close()
    val ich = FileChannel.open(ip, StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)
    try {
      while (entries.hasRemaining) ich.write(entries)
      if (fsync) ich.force(true)
    } finally ich.close()
    firstOffset
  }

  /** Route a batch to its partitions (arrival order kept per partition)
    * and append partition-locally — must hold the lock. The round-robin
    * cursor for null keys is read ONCE and written back ONCE per batch:
    * routing each null-key row through [[partitionFor]] would pay a
    * read + temp-file + ATOMIC_MOVE of the `rr` file PER RECORD while
    * holding the global append lock.
    */
  private def appendAll(rows: Seq[(String, String)]): Unit = {
    val rr = dir.resolve("rr")
    var cur = if (rows.exists(_._1 == null)) readLongFile(rr, 0L) else -1L
    val cur0 = cur
    val routed = rows.map { case (k, v) =>
      val p =
        if (k == null) { val x = (cur % nPartitions).toInt; cur += 1; x }
        else math.floorMod(k.hashCode, nPartitions)
      (p, k, v)
    }
    if (cur != cur0) writeLongFile(rr, cur)
    routed.groupBy(_._1).foreach { case (p, rs) =>
      appendBatch(p, rs.map(t => (t._2, t._3)))
    }
  }

  private def partitionFor(key: String): Int =
    if (key == null) {
      val rr = dir.resolve("rr")
      val cur = readLongFile(rr, 0L)
      writeLongFile(rr, cur + 1)
      (cur % nPartitions).toInt
    } else math.floorMod(key.hashCode, nPartitions)

  def produce(key: String, value: String): (Int, Long) = withLock {
    val p = partitionFor(key)
    (p, appendBatch(p, Seq(key -> value)))
  }

  /** Append a task's whole buffer as ONE atomic unit — the executor-side
    * produce of the sink. Keys still choose partitions by hash; atomicity
    * is per producing TASK, so a reader never observes a torn task batch.
    */
  def produceAll(rows: Seq[(String, String)]): Unit = withLock {
    appendAll(rows)
  }

  /** Run `f` against partition `p`'s live generation, retrying if a
    * concurrent [[truncateToCommitted]] flips the pointer and deletes
    * the old files between the pointer read and any file access — the
    * one race lock-free readers can observe (compaction is the only
    * deleter, and it always installs a complete replacement first).
    * Every access under a pinned generation must THROW when the
    * generation is compacted away ([[entriesAt]] disambiguates the
    * missing-index case) — a fallback to "empty" here would silently
    * hide live records instead of retrying.
    */
  private def withGen[T](p: Int)(f: (Long, Long) => T): T = {
    var attempts = 0
    while (true) {
      val (g, base) = genAndBase(p)
      try return f(g, base)
      catch {
        // NoSuchFile = compaction flipped the pointer and deleted our
        // pinned generation; EOF = an appender's debris reconciliation
        // truncated the index between our size read and the entry read.
        // Both are transient under a live producer — retry re-reads the
        // pointer and sizes; a PERSISTENT EOF (power-loss damage, no
        // producer) is reconciled at open, so rethrowing after the
        // retries surfaces only genuine corruption.
        case _: java.nio.file.NoSuchFileException if attempts < 5 =>
          attempts += 1
        case _: java.io.EOFException if attempts < 5 =>
          attempts += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Under the LOCK, deliberately: a lock-free size read could observe
    * a produceAll mid-append (some partitions/entries of a task batch
    * visible, others not), and a consumer that PLANS on such a torn end
    * splits the task batch across two micro-batches — which breaks the
    * per-key epoch atomicity the keyed-stage ordering contract builds
    * on (ApmGraph: one task per key per epoch + within-batch sort).
    * Locked ends always align to completed produceAll/appendBatch
    * calls, so a planned range never tears a task batch. Planning-time
    * only (once per trigger), so the contention cost is nil; `read`
    * stays lock-free.
    */
  def endOffsets: Map[Int, Long] = withLock {
    (0 until nPartitions).map { p =>
      p -> withGen(p) { (g, base) => base + entriesAt(p, g) }
    }.toMap
  }

  /** Earliest RETAINED offset per partition — 0 until retention trims
    * (Kafka's `beginningOffsets`). A read below it resumes at it, the
    * `auto.offset.reset=earliest` behavior a consumer of a retention-
    * trimmed topic sees.
    */
  def beginningOffsets: Map[Int, Long] =
    (0 until nPartitions).map(p => p -> genAndBase(p)._2).toMap

  /** Entry count of partition `p`'s generation-`gen` index. A missing
    * index is ambiguous: the partition may never have been written
    * (entries = 0), or `gen` may be STALE — a concurrent compact
    * flipped the pointer and deleted its files between our pointer
    * read and this size check. The two must not be conflated: treating
    * a compacted-away generation as empty silently hides records that
    * exist in the live one. Disambiguate by re-reading the pointer —
    * unchanged proves never-written; moved rethrows so [[withGen]]
    * retries against the live generation.
    */
  private def entriesAt(p: Int, gen: Long): Long =
    try Files.size(idxPath(p, gen)) / 8
    catch {
      case e: java.nio.file.NoSuchFileException =>
        if (genAndBase(p)._1 != gen) throw e
        0L
    }

  private[streaming] def read(p: Int, from: Long, max: Int): Seq[QueueRecord] =
    withGen(p)((gen, base) => readAt(p, gen, base, from, max))

  /** [[read]]'s body for one pinned (generation, base) — the seam that
    * lets a test drive the stale-generation path deterministically: on
    * a compacted-away `gen` this THROWS (so [[withGen]] retries) rather
    * than returning an empty batch for records the live generation
    * still holds.
    */
  private[graft] def readAt(p: Int, gen: Long, base: Long, from: Long,
      max: Int): Seq[QueueRecord] = {
    val ip = idxPath(p, gen)
    val entries = entriesAt(p, gen)
    // below the beginning = earliest-reset: resume at the first
    // retained record; offsets stay the records' own, never renumbered
    val from0 = math.max(from, base)
    val local = from0 - base
    if (local >= entries || max <= 0) Seq.empty
    else {
      val n = math.min(max.toLong, entries - local).toInt
      // record `local` STARTS where record `local - 1` ends (entry
      // local-1); every frame in [local, local+n) is indexed, hence
      // contiguous and fully durable — debris can only ever trail the
      // indexed prefix
      val startPos = if (local == 0) 0L else readIdxEntry(ip, local - 1)
      val lch = FileChannel.open(logPath(p, gen), StandardOpenOption.READ)
      try {
        lch.position(startPos)
        val in = new DataInputStream(Channels.newInputStream(lch))
        (0 until n).map { i =>
          def readBytes(): String = {
            val len = in.readInt()
            if (len < 0) null
            else {
              val b = new Array[Byte](len)
              in.readFully(b)
              new String(b, UTF_8)
            }
          }
          val k = readBytes(); val v = readBytes()
          QueueRecord(p, from0 + i, k, v)
        }
      } finally lch.close()
    }
  }

  private def parseCommits(p: Path): Map[Int, Long] =
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), UTF_8).split("\n")
      .filter(_.nonEmpty).map { line =>
        val Array(pp, oo) = line.split(":")
        pp.toInt -> oo.toLong
      }.toMap

  /** Durable committed offsets per consumer group. */
  private[streaming] def committed(group: String): Map[Int, Long] =
    parseCommits(fileName("commits_", group))

  /** Commit a USER-chosen group's offsets. The reserved `.durable`
    * suffix is rejected HERE, so no path into the commit namespace (a
    * [[ContractConsumer]], a test harness, a future caller) can alias
    * another group's durable-progress line and skew retention
    * decisions; the only way to write under the suffix is
    * [[commitDurable]].
    */
  private[streaming] def commit(group: String, offs: Map[Int, Long]): Unit = {
    FileTopic.requireUnreserved(group)
    commitRaw(group, offs)
  }

  /** Advance `group`'s durable-progress line (`<group>.durable`) — the
    * connector's post-batch-commit write that retention trims to
    * instead of the planning-time ack ([[FileTopic.retentionLines]]).
    */
  private[streaming] def commitDurable(group: String,
      offs: Map[Int, Long]): Unit = {
    FileTopic.requireUnreserved(group)
    commitRaw(group + ".durable", offs)
  }

  private[streaming] def committedDurable(group: String): Map[Int, Long] =
    committed(group + ".durable")

  /** Retention: drop every record ALL consumer groups have committed
    * past — the `AdminClient.deleteRecords` analog with its target
    * derived from group progress, the safe default for a transport
    * whose consumers checkpoint their own offsets (nothing a group
    * still needs can be dropped). A topic with no commit groups keeps
    * everything: zero groups proves nothing consumed, not everything.
    * Offsets are NOT renumbered — the beginning moves up, ends stay —
    * so committed offsets, fences and in-flight batch ranges all stay
    * valid. Returns the new per-partition beginning offsets.
    *
    * `minFraction` amortizes REPEATED trims (a per-epoch retention
    * policy): a partition only trims when its committed prefix is at
    * least that fraction of its retained records. A trim rewrites the
    * kept tail, so trimming on every commit would cost O(tail) per
    * epoch; at 0.5 each trim rewrites no more records than it frees,
    * keeping total compaction work linear in records ever produced. 0
    * (the default) trims whatever is trimmable — the exact one-shot
    * `deleteRecords` call.
    */
  def truncateToCommitted(minFraction: Double = 0.0): Map[Int, Long] = withLock {
    // keyed by the ENCODED group name so `<group>.durable` pairs with
    // its base group (encName passes '.' through, so enc(g + ".durable")
    // == enc(g) + ".durable"; the contract rejects user groups ending
    // in ".durable", so the pairing is unambiguous)
    val groups = {
      val s = Files.list(dir)
      try {
        val b = Map.newBuilder[String, Map[Int, Long]]
        s.iterator().forEachRemaining { f =>
          val n = f.getFileName.toString
          if (n.startsWith("commits_"))
            b += n.stripPrefix("commits_") -> parseCommits(f)
        }
        b.result()
      } finally s.close()
    }
    val lines = FileTopic.retentionLines(groups)
    if (lines.nonEmpty) (0 until nPartitions).foreach { p =>
      val (gen, base) = genAndBase(p)
      val ip = idxPath(p, gen)
      val entries = if (Files.exists(ip)) Files.size(ip) / 8 else 0L
      val target = lines.iterator.map(_.getOrElse(p, 0L)).min
      val cut = math.min(target, base + entries)
      if (cut > base && (cut - base).toDouble >= minFraction * entries)
        compactPartition(p, gen, base, cut, entries)
    }
    beginningOffsets
  }

  /** Rewrite partition `p`'s kept tail (records [cut, end)) into
    * generation `gen + 1` and flip the `pN.gen` pointer — must hold the
    * lock. The new log and index are written COMPLETELY and forced
    * before the pointer moves, so every state a crash can leave is one
    * the open-time generation GC or the pointer itself resolves: pointer
    * still old = the half-built g+1 pair is deleted debris; pointer new
    * = the old pair is deleted debris. Index entries are rebased to the
    * new log's coordinates (subtract the cut record's end position);
    * offsets are NOT renumbered — `base` absorbs the cut.
    */
  private def compactPartition(p: Int, gen: Long, base: Long, cut: Long,
      entries: Long): Unit = {
    val ip = idxPath(p, gen); val lp = logPath(p, gen)
    val localCut = cut - base
    val byteCut = readIdxEntry(ip, localCut - 1)
    val keep = entries - localCut
    val byteEnd = if (keep == 0) byteCut else readIdxEntry(ip, entries - 1)
    val nl = logPath(p, gen + 1); val ni = idxPath(p, gen + 1)
    val lch = FileChannel.open(nl, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val src = FileChannel.open(lp, StandardOpenOption.READ)
      try {
        var pos = byteCut
        while (pos < byteEnd) pos += src.transferTo(pos, byteEnd - pos, lch)
      } finally src.close()
      lch.force(true)
    } finally lch.close()
    val rch = FileChannel.open(ip, StandardOpenOption.READ)
    val ich = FileChannel.open(ni, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      // rebase in bounded chunks: retention cost is O(kept bytes), with
      // O(1) memory however long the tail is
      rch.position(localCut * 8)
      val in = ByteBuffer.allocate(1 << 20)
      var remaining = 8L * keep
      while (remaining > 0) {
        in.clear(); in.limit(math.min(in.capacity.toLong, remaining).toInt)
        while (in.hasRemaining && rch.read(in) >= 0) ()
        in.flip()
        val out = ByteBuffer.allocate(in.remaining)
        while (in.hasRemaining) out.putLong(in.getLong - byteCut)
        out.flip()
        remaining -= out.remaining
        while (out.hasRemaining) ich.write(out)
      }
      ich.force(true)
    } finally { rch.close(); ich.close() }
    writeAtomic(dir.resolve(s"p$p.gen"),
      s"${gen + 1}:$cut".getBytes(UTF_8))
    Files.deleteIfExists(lp)
    Files.deleteIfExists(ip)
    ()
  }

  private def commitRaw(group: String, offs: Map[Int, Long]): Unit =
    withLock {
      val merged = (committed(group).toSeq ++ offs.toSeq)
        .groupMapReduce(_._1)(_._2)(math.max)
      val body = merged.toSeq.sorted.map { case (p, o) => s"$p:$o" }
        .mkString("", "\n", "\n")
      // dot-prefixed temp via writeAtomic: the old commits_tmp_<thread>
      // name lived in the real commit-file namespace, so a group
      // literally named tmp_<N> could have its offsets clobbered
      writeAtomic(fileName("commits_", group), body.getBytes(UTF_8))
    }

  // queryId is encoded, the `_<partition>` separator stays literal —
  // encName never emits '_', so the composite cannot be forged by a
  // query id that happens to contain one
  private def fencePath(queryId: String, partitionId: Int): Path =
    dir.resolve("fence_" + encName(queryId) + "_" + partitionId)

  /** The sink's executor-side produce, fenced and ATOMIC: iff `epochId`
    * is above the (query, write-partition) high-water mark, append the
    * whole buffer and only then advance the mark. Epochs of a streaming
    * query are strictly increasing per partition (micro-batch N
    * completes before N+1 starts), so a replayed epoch is exactly
    * "epochId <= high-water": state is one long per (query,
    * partition), bounded for the life of the query. Fence check, data
    * append, fence advance in ONE lock section (the append is inlined:
    * [[withLock]] does not re-enter across a second `FileChannel.lock`
    * from the same thread). The ordering is the crash contract:
    * fence-first would turn a crash between fence and append into
    * silent data loss (the task retry finds itself fenced and the
    * buffer is gone — at-most-once); data-first makes a crash
    * mid-produce at-least-once (the retry re-appends the buffer), while
    * Spark-level task retries and epoch replays remain exactly-once.
    * Returns whether the buffer was appended.
    */
  private[streaming] def produceFenced(queryId: String, epochId: Long,
      partitionId: Int, rows: Seq[(String, String)]): Boolean = withLock {
    val hw = readLongFile(fencePath(queryId, partitionId), Long.MinValue)
    if (epochId > hw) {
      appendAll(rows)
      writeLongFile(fencePath(queryId, partitionId), epochId)
      true
    } else false
  }
}

object FileTopic {
  /** On-disk format version: "4" = end-indexed, generation-compacted,
    * %XX-encoded state-file names. ("3" sanitized commits_/fence_ names
    * lossily — distinct groups could collide on one file; "2" was
    * end-indexed without generations; "1" start-indexed — all refused
    * at open, never reinterpreted.)
    */
  val Format = "4"

  /** Longest un-capped encoded name (see `encName`): 180 + '~' + 16
    * hash hex + "commits_"/"fence_" + "_NNNN"/".durable" decorations
    * stays under the universal 255-byte filename-component limit even
    * when every decoration applies.
    */
  val MaxEncodedName = 180

  /** Every commit-namespace write validates here (see
    * [[FileTopic.commit]]): `<group>.durable` is the connector
    * reader's durable-progress line, and a user group literally named
    * that way would alias another group's line.
    */
  private[streaming] def requireUnreserved(group: String): Unit =
    require(!group.endsWith(".durable"),
      s"queue group '$group': the '.durable' suffix is reserved for the " +
        "reader's durable-progress line (written via commitDurable)")

  /** The per-group lines retention may trim to, with `<group>.durable`
    * overrides applied. A connector reader ACKs at planning (the S4
    * ack-before-process contract), so its plain group commit can run
    * one IN-FLIGHT batch ahead of durable processing; it records the
    * durably-completed line under `<group>.durable` (seeded at query
    * start, advanced at each delivered micro-batch commit). Retention
    * must trim to the durable line when one exists: trimming to the
    * ack could delete records a crash-replayed batch still needs, and
    * earliest-reset would then turn the replay into a silently EMPTY
    * batch — reintroducing exactly the ack-before-process loss window
    * the checkpoint upgrade closes. A durable line with no base group
    * (seeded, nothing planned yet) bounds the trim by itself; a plain
    * group with no durable line (a [[ContractConsumer]], which
    * commits after processing) is its own durable line.
    */
  private[streaming] def retentionLines(
      all: Map[String, Map[Int, Long]]): Iterable[Map[Int, Long]] =
    all.map { case (g, offs) =>
      if (g.endsWith(".durable")) offs
      else all.getOrElse(g + ".durable", offs)
    }

  // one JVM-level mutex per topic directory: FileChannel.lock throws
  // OverlappingFileLockException on a second acquisition from the SAME
  // JVM, so in-process exclusion must happen before the file lock
  private val mutexes = new ConcurrentHashMap[String, Object]()
  private def mutexFor(dir: Path): Object =
    mutexes.computeIfAbsent(dir.toAbsolutePath.normalize.toString,
      _ => new Object)
}
