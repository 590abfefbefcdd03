package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output-layout queries — the two file-level concerns that dominate
  * large-table operations and that no query-time optimizer can fix after
  * the fact, each planned or measured from metadata-sized relations:
  *
  *  1. SMALL FILES: a streaming sink or over-parallel batch write leaves
  *     thousands of KB-size parquet files per partition; every later
  *     scan then pays one task + one footer read per file, and the
  *     NameNode/list cost grows unbounded. q32 ([[compactionPlan]])
  *     groups time-adjacent small files into target-size bins from
  *     per-file byte counts — the work list of an OPTIMIZE rewrite.
  *
  *  2. CLUSTERING: parquet row-group pruning only helps if each file
  *     covers a narrow range of the filter key. q30 ([[zorderLayout]])
  *     models the range-partitioned file assignment of a linear and a
  *     Z-order layout and counts the files a box filter touches under
  *     each; q31 ([[bloomSkip]]) counts the files per-file bloom
  *     filters let a point probe skip, clustered and in insertion order.
  */
object Layout {

  /** q32 — compaction PLANNING over file metadata: given the per-file
    * (key range, byte count) statistics a table format already
    * maintains, assign time-adjacent small files to target-size
    * compaction groups — the planning half of OPTIMIZE, whose output is
    * the work list of a range-clustered rewrite. Files here
    * are modeled as the per-hour outputs of a streaming sink (the
    * classic small-file producer), with a deterministic byte estimate
    * (48 bytes/row + the type string) so both engines compute identical
    * sizes. Bins are CONTIGUOUS in the time key — compaction must
    * preserve clustering or it destroys the min-max pruning q30
    * measures — and sized by running-sum division: bin_id =
    * floor(bytes_before / target), target = total/`nBins`.
    *
    * Scale: the planner never touches data, only the file-metadata
    * relation — ~800k rows for 100 TB of 128 MB files — so the
    * single-task running-sum window is honest at any corpus size (the
    * metadata is smaller than one data partition); the expensive part,
    * the rewrite itself, is one embarrassingly-parallel range shuffle
    * per emitted bin, which this query plans and does not run.
    */
  def compactionPlan(spark: SparkSession, sfDir: String,
      nBins: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.Tables
    val ev = Tables.load(spark, sfDir, "events")
    val files = ev.select(Tables.colMillis(ev, "ts").as("ms"),
        col("event_type"))
      .withColumn("file_hr", expr("ms div 3600000"))
      .groupBy("file_hr")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        (count(lit(1)) * 48 + sum(length(col("event_type"))))
          .cast("long").as("bytes"))
    val tot = files.agg(sum(col("bytes")).as("total_bytes"))
    // unpartitioned cumulative sum over the FILE-METADATA relation
    // (~800k rows for 100 TB of 128 MB files — smaller than one data
    // partition, see the scaladoc); the WindowExec warning is bounded
    val w = Window.orderBy("file_hr")
      .rowsBetween(Window.unboundedPreceding, -1)
    files.crossJoin(broadcast(tot))
      .withColumn("target",
        greatest(lit(1L), expr(s"total_bytes div $nBins")))
      .withColumn("cum_before",
        coalesce(sum(col("bytes")).over(w), lit(0L)))
      .groupBy(expr("cum_before div target").as("bin_id"))
      .agg(count(lit(1)).cast("long").as("n_files"),
        sum(col("bytes")).as("bin_bytes"),
        min("file_hr").as("hr_lo"), max("file_hr").as("hr_hi"))
  }

  def compactionPlanSql(nBins: Int = 32): String =
    s"""WITH f AS (SELECT epoch_ms(ts) // 3600000 AS file_hr,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) * 48 + sum(length(event_type)) AS BIGINT) AS bytes
           FROM events GROUP BY 1),
        t AS (SELECT CAST(sum(bytes) AS BIGINT) AS total_bytes FROM f),
        c AS (SELECT f.*, greatest(1, total_bytes // $nBins) AS target,
                coalesce(CAST(sum(bytes) OVER (ORDER BY file_hr
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS cum_before
              FROM f CROSS JOIN t)
        SELECT cum_before // target AS bin_id,
          CAST(count(*) AS BIGINT) AS n_files,
          CAST(sum(bytes) AS BIGINT) AS bin_bytes,
          min(file_hr) AS hr_lo, max(file_hr) AS hr_hi
        FROM c GROUP BY 1"""

  /** Z-ORDER vs linear clustering, measured — the multi-dimensional
    * data-skipping lever (Morton-curve clustering, the OPTIMIZE ZORDER
    * of Delta/Iceberg tables): interleaving the bits of two filter
    * dimensions gives every file a small square-ish footprint in
    * (x, y) space, so a 2-D box predicate prunes to O(box area) files,
    * where a linear (x, y) sort gives files that are thin full-width
    * stripes in y — perfect x pruning, zero y pruning.
    *
    * The query models the layout assignment exactly and emits the
    * evidence: events mapped to x = user_id (10 bits) and y = hour
    * index from the corpus start, zkey = bit-interleave(x, y), rows
    * assigned to `files` RANGE buckets by equal-depth boundaries
    * computed from the key's cumulative histogram — the deterministic
    * model of `repartitionByRange(zkey)` (which is how a rewrite would
    * apply the layout at scale; the sampled range shuffle picks
    * boundaries so files carry ~equal row counts, and so does this:
    * a key whose first row is the r-th smallest lands in file
    * floor(r * files / N), equal keys colocating exactly as a range
    * partitioner colocates them). The assignment is the a9
    * histogram-quantile machinery: one map-side-combinable groupBy on
    * the key, then the cumulative window runs over the BIN relation,
    * whose cardinality is bounded by the key DOMAIN (2^20 here — x and
    * y are 10-bit by construction) rather than the row count, so the
    * one single-task window touches metadata-sized input at ANY corpus
    * scale (the q32 planner discipline) — the events table itself is
    * never globally ordered. Per-file (x, y) bounding boxes then
    * aggregate straight off the bins (each bin knows its x, y) into
    * the two numbers that matter: files touched by a fixed box query
    * and mean per-file span on each dimension. The hour-origin min and
    * the total-count divisor are 1-row broadcasts (the scalar-aggregate
    * cross idiom).
    */
  def zorderLayout(spark: SparkSession, sfDir: String, files: Int = 64,
      x0: Long = 32, x1: Long = 96, y0: Long = 120,
      y1: Long = 360): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.Tables
    val ev = Tables.load(spark, sfDir, "events")
    val ms = Tables.colMillis(ev, "ts")
    val base = ev.select(col("event_id"),
      (col("user_id") % 1024).as("x"),
      floor(ms / lit(3600000L)).cast("long").as("h"))
    val hmin = base.agg(min("h").as("hmin"))
    val zkey = (0 until 10).map { b =>
      shiftright(col("x"), b).bitwiseAND(lit(1L)) * lit(1L << (2 * b)) +
        shiftright(col("y"), b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1))
    }.reduce(_ + _)
    val d = base.crossJoin(broadcast(hmin))
      .select(col("event_id"), col("x"),
        ((col("h") - col("hmin")) % 1024).as("y"))
      .withColumn("zkey", zkey)
    def summarize(name: String, key: Column): DataFrame = {
      // per-key bins: cardinality <= 2^20 by construction (the key is a
      // bijection of the 10-bit (x, y) pair), so everything below the
      // groupBy is metadata-sized regardless of the events row count
      val bins = d.groupBy(key.as("k"))
        .agg(count(lit(1)).as("cnt"),
          min("x").as("bx"), min("y").as("by"))
      // total rows = events count (every event has exactly one key);
      // computed off `base` so the scalar doesn't re-derive the
      // hour-origin cross
      val tot = base.agg(count(lit(1)).as("n"))
      // cumulative count over the BIN relation (not the events table):
      // cum_before = rows with a strictly smaller key = the rank of the
      // key's first row; file = floor(rank * files / N) — equal-depth
      // range boundaries, ties colocated (range-partitioner semantics).
      // Unpartitioned window = single task over <= targetBins rows by
      // construction; the WindowExec warning is bounded.
      val wb = Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
      bins.crossJoin(broadcast(tot))
        .withColumn("cum_before",
          coalesce(sum(col("cnt")).over(wb), lit(0L)))
        .withColumn("file_id", expr(s"(cum_before * $files) div n"))
        .groupBy("file_id")
        .agg(min("bx").as("x_lo"), max("bx").as("x_hi"),
          min("by").as("y_lo"), max("by").as("y_hi"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("x_lo") < x1 && col("x_hi") >= x0 &&
            col("y_lo") < y1 && col("y_hi") >= y0, 1L).otherwise(0L))
            .as("files_touched"),
          // Divide by the counted bucket total, not the `files`
          // parameter: skewed key counts can skip file ids (a heavy key
          // advances the cumulative rank past several boundaries), so
          // realized files <= requested.
          (sum(col("x_hi") - col("x_lo")).cast("double") / count(lit(1)))
            .as("avg_x_span"),
          (sum(col("y_hi") - col("y_lo")).cast("double") / count(lit(1)))
            .as("avg_y_span"))
        .select(lit(name).as("layout"), col("n_files"),
          col("files_touched"), col("avg_x_span"), col("avg_y_span"))
    }
    summarize("zorder", col("zkey"))
      .unionAll(summarize("linear", col("x") * lit(1024L) + col("y")))
  }

  /** q31 — per-file BLOOM-FILTER data skipping (the Parquet bloom /
    * Delta-stats idea for point predicates, where q30's min-max boxes
    * can't prune): events are assigned to `files` range-buckets under
    * two layouts — `insertion` (event_id order: every file holds a
    * slice of every user's history) and `clustered` (user_id order:
    * each user touches few files) — a per-file Bloom filter over
    * user_id is built relationally (distinct (file, user) -> 2 hash
    * positions -> 32-bit words OR-aggregated), and `nProbes` point
    * lookups report files-actually-containing vs files-the-bloom-says-
    * maybe, so false-positive pruning loss is a measured column.
    *
    * The structural point the numbers make: the bloom prunes ONLY as
    * well as the layout concentrates the key (clustered: maybe ~=
    * actual ~= few files; insertion: actual ~= most files, nothing to
    * prune) — data-skipping indexes and clustering are one decision,
    * not two. Integer-exact end-to-end (LCG hash positions, 32-bit
    * words per the engines' shared shift range), no floating point.
    * Shape at scale: one distinct shuffle on (layout, file, user), one
    * small OR-aggregate, probe joins against a words table of
    * files x mBits/32 rows — the bloom table is metadata-sized. File
    * assignment is [[zorderLayout]]'s equal-depth range binning: keys
    * are first coarsened to at most `targetBins` fixed-width bins
    * (width from the broadcast key min/max — the bin relation is
    * bounded BY CONSTRUCTION at any corpus size, which is what an
    * unbounded key like event_id needs), the cumulative window runs
    * over those bins only, and rows take their bin's file via a
    * broadcast bin→file map — the deterministic model of
    * `repartitionByRange`'s sampled boundaries, with no global
    * ordering of the events table anywhere.
    */
  def bloomSkip(spark: SparkSession, sfDir: String, files: Int = 64,
      mBits: Int = 256, nProbes: Int = 20,
      targetBins: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.Tables
    val P = 1000000007L
    val hparams = Seq((1103515245L, 12345L), (1566083941L, 1013904223L))
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"))
    // equal-depth range assignment with a DOMAIN-bounded bin relation:
    // keys coarsen to <= targetBins fixed-width bins (width from the
    // broadcast min/max — event_id is unbounded at scale, the bin count
    // is not), the cumulative window runs over bins only, and each row
    // takes its bin's file id from a broadcast map. Ties (and bin-mates)
    // colocate, exactly like repartitionByRange's sampled boundaries.
    def lay(name: String, key: Column): DataFrame = {
      val keyed = ev.select(col("user_id"), key.as("k"))
      val mm = keyed.agg(min(col("k")).as("kmin"), max(col("k")).as("kmax"))
        .select(col("kmin"),
          expr(s"(kmax - kmin + $targetBins) div $targetBins").as("binw"))
      val binned = keyed.crossJoin(broadcast(mm))
        .select(col("user_id"), expr("(k - kmin) div binw").as("bin"))
      val bins = binned.groupBy("bin").agg(count(lit(1)).as("cnt"))
      // total rows = events count; off `ev` so the scalar skips the
      // min/max cross subtree
      val tot = ev.agg(count(lit(1)).as("n"))
      // unpartitioned window over the bounded bin relation (<= targetBins
      // = 4096 rows by the coarsening above) — warning bounded by design
      val wb = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val fmap = bins.crossJoin(broadcast(tot))
        .withColumn("cum_before",
          coalesce(sum(col("cnt")).over(wb), lit(0L)))
        .select(col("bin"), expr(s"(cum_before * $files) div n").as("fid"))
      binned.join(broadcast(fmap), Seq("bin"))
        .select(lit(name).as("layout"), col("fid"), col("user_id"))
    }
    // membership feeds the bloom build AND the actual-files census; a
    // localCheckpoint here would halve that double evaluation, but it
    // also hides the bin-relation windows from LayoutSpec's 100x-shape
    // pin (the assignment plan must stay inspectable) — left lazy, the
    // distinct's exchange is reusable across the two consumers
    val membership = lay("insertion", col("event_id"))
      .unionAll(lay("clustered", col("user_id")))
      .select("layout", "fid", "user_id").distinct()
    // double multiply: a single LCG step leaves small user ids on a
    // lattice mod mBits (measured: ZERO bloom collisions at every test
    // scale, which killed the fp_files column); the second multiply
    // mixes the high bits back down
    def hpos(u: Column, a: Long, b: Long): Column =
      ((((u * lit(a) + lit(b)) % lit(P)) * lit(2654435761L)) % lit(P)) %
        lit(mBits.toLong)
    val posArr = array(hparams.map { case (a, b) =>
      hpos(col("user_id"), a, b) }: _*)
    val bloom = membership
      .select(col("layout"), col("fid"), explode(posArr).as("pos"))
      .select(col("layout"), col("fid"), (col("pos") / 32).cast("long").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
      .groupBy("layout", "fid", "word")
      .agg(expr("bit_or(mask)").as("bits"))
    // probe ids from the raw events (same user set as membership —
    // every event lands in both layouts — without re-deriving the whole
    // assignment subtree for a third time)
    val probes = ev.select("user_id").distinct()
      .filter(col("user_id") < nProbes)
    val pb = probes
      .select(col("user_id"), posexplode(posArr).as(Seq("hi", "pos")))
      .select(col("user_id"), col("hi"),
        (col("pos") / 32).cast("long").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
    val maybe = pb.join(bloom, Seq("word"))
      .filter((col("bits").bitwiseAND(col("mask"))) =!= 0)
      .groupBy("layout", "fid", "user_id")
      .agg(countDistinct("hi").as("nh"))
      .filter(col("nh") === hparams.size)
      .groupBy("layout", "user_id")
      .agg(count(lit(1)).as("n_files_maybe"))
    val actual = membership.filter(col("user_id") < nProbes)
      .groupBy("layout", "user_id")
      .agg(count(lit(1)).as("n_files_actual"))
    actual.join(maybe, Seq("layout", "user_id"))
      .select(col("layout"), col("user_id"), col("n_files_actual"),
        col("n_files_maybe"),
        (col("n_files_maybe") - col("n_files_actual")).as("fp_files"))
  }

  def bloomSkipSql(files: Int = 64, mBits: Int = 256,
      nProbes: Int = 20, targetBins: Long = 4096L): String = {
    val P = 1000000007L
    val hparams = Seq((1103515245L, 12345L), (1566083941L, 1013904223L))
    val posList = hparams.map { case (a, b) =>
      s"((((user_id * $a + $b) % $P) * 2654435761) % $P) % $mBits"
    }.mkString("[", ", ", "]")
    // the per-layout equal-depth range assignment (bin -> cumulative
    // count -> file id), mirroring the Spark side's bounded bin relation
    def layCtes(sfx: String, keyExpr: String) =
      s"""k$sfx AS (SELECT user_id, $keyExpr AS k FROM ev),
        m$sfx AS (SELECT min(k) AS kmin,
            (max(k) - min(k) + $targetBins) // $targetBins AS binw
          FROM k$sfx),
        b$sfx AS (SELECT user_id, (k - kmin) // binw AS bin
          FROM k$sfx CROSS JOIN m$sfx),
        f$sfx AS (SELECT bin,
            CAST((coalesce(CAST(sum(cnt) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) * $files)
              // CAST(sum(cnt) OVER () AS BIGINT) AS BIGINT) AS fid
          FROM (SELECT bin, count(*) AS cnt FROM b$sfx GROUP BY 1))"""
    s"""WITH ev AS (SELECT event_id, user_id FROM events),
        ${layCtes("i", "event_id")},
        ${layCtes("c", "user_id")},
        membership AS (
          SELECT DISTINCT layout, fid, user_id FROM (
            SELECT 'insertion' AS layout, f.fid AS fid, b.user_id AS user_id
            FROM bi b JOIN fi f ON b.bin = f.bin
            UNION ALL
            SELECT 'clustered' AS layout, f.fid AS fid, b.user_id AS user_id
            FROM bc b JOIN fc f ON b.bin = f.bin)),
        mbits AS (
          SELECT layout, fid, pos // 32 AS word,
            (1::BIGINT << CAST(pos % 32 AS INT)) AS mask
          FROM (SELECT layout, fid, unnest($posList) AS pos
                FROM membership)),
        bloom AS (
          SELECT layout, fid, word, bit_or(mask) AS bits
          FROM mbits GROUP BY layout, fid, word),
        probes AS (
          SELECT DISTINCT user_id FROM ev
          WHERE user_id < $nProbes),
        pb AS (
          SELECT user_id, hi, pos // 32 AS word,
            (1::BIGINT << CAST(pos % 32 AS INT)) AS mask
          FROM (SELECT user_id,
                  generate_subscripts($posList, 1) AS hi,
                  unnest($posList) AS pos
                FROM probes)),
        maybe AS (
          SELECT layout, user_id, CAST(count(*) AS BIGINT) AS n_files_maybe
          FROM (
            SELECT b.layout, b.fid, pb.user_id
            FROM pb JOIN bloom b ON pb.word = b.word
            WHERE (b.bits & pb.mask) <> 0
            GROUP BY b.layout, b.fid, pb.user_id
            HAVING count(DISTINCT pb.hi) = ${hparams.size})
          GROUP BY layout, user_id),
        actual AS (
          SELECT layout, user_id, CAST(count(*) AS BIGINT)
            AS n_files_actual
          FROM membership WHERE user_id < $nProbes
          GROUP BY layout, user_id)
        SELECT a.layout, a.user_id, a.n_files_actual, m.n_files_maybe,
          m.n_files_maybe - a.n_files_actual AS fp_files
        FROM actual a JOIN maybe m
          ON a.layout = m.layout AND a.user_id = m.user_id"""
  }

  def zorderLayoutSql(files: Int = 64, x0: Long = 32, x1: Long = 96,
      y0: Long = 120, y1: Long = 360): String = {
    val zterms = (0 until 10).map { b =>
      s"((x // ${1L << b}) % 2) * ${1L << (2 * b)} + " +
        s"((y // ${1L << b}) % 2) * ${1L << (2 * b + 1)}"
    }.mkString(" + ")
    def leg(name: String, key: String) =
      s"""SELECT '$name' AS layout,
            CAST(count(*) AS BIGINT) AS n_files,
            CAST(sum(CASE WHEN x_lo < $x1 AND x_hi >= $x0
                AND y_lo < $y1 AND y_hi >= $y0 THEN 1 ELSE 0 END)
              AS BIGINT) AS files_touched,
            CAST(sum(x_hi - x_lo) AS DOUBLE) / count(*) AS avg_x_span,
            CAST(sum(y_hi - y_lo) AS DOUBLE) / count(*) AS avg_y_span
          FROM (
            SELECT file_id, min(bx) AS x_lo, max(bx) AS x_hi,
              min(by) AS y_lo, max(by) AS y_hi
            FROM (
              SELECT (cum_before * $files) // n AS file_id, bx, by
              FROM (
                SELECT k, bx, by,
                  coalesce(CAST(sum(cnt) OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0) AS cum_before,
                  CAST(sum(cnt) OVER () AS BIGINT) AS n
                FROM (SELECT $key AS k, count(*) AS cnt,
                        min(x) AS bx, min(y) AS by
                      FROM z GROUP BY 1)))
            GROUP BY file_id)"""
    s"""WITH e AS (
          SELECT event_id, user_id % 1024 AS x,
            epoch_ms(ts) // 3600000 AS h
          FROM events),
        hm AS (SELECT min(h) AS hmin FROM e),
        d AS (SELECT event_id, x, (h - hmin) % 1024 AS y
              FROM e CROSS JOIN hm),
        z AS (SELECT event_id, x, y, $zterms AS zkey FROM d)
        ${leg("zorder", "zkey")}
        UNION ALL
        ${leg("linear", "x * 1024 + y")}"""
  }
}
