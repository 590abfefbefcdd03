package graft.model

/** The five wire-record types and their pipe-CSV codec — the reference's
  * `entries.js` re-expressed as case classes + pure serde (SURVEY.md §1.2,
  * F8).
  *
  * Wire format (entries.js:16-21):
  *  - fields joined with `|`, leading type tag selects the schema on
  *    parse (entries.js:174-193);
  *  - `fs` packs each metric's z-score sub-group with `:`
  *    (entries.js:117): `value:avg:lb:ub:signal`;
  *  - `al` nests a full serialized `fs` record with `|` escaped to `&`
  *    (entries.js:210,229);
  *  - missing values serialize as empty strings, numbers round-trip as
  *    shortest decimal strings; `tpm` is fixed to 2 decimals
  *    (entries.js:65-69 `nf`).
  */
sealed trait Entry { def tag: String; def toCsv: String }

object Codec {
  def optS(o: Option[_]): String = o.map(_.toString).getOrElse("")
  def optL(s: String): Option[Long] = if (s.isEmpty) None else Some(s.toLong)
  def optD(s: String): Option[Double] = if (s.isEmpty) None else Some(s.toDouble)
  /** tpm formatting: toFixed(2) (entries.js:65-69), with a '.' decimal
    * point whatever the JVM's default locale.
    */
  def nf2(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
}
import Codec._

/** entries.js:1-43 */
case class TxEntry(server: String, service: String, logId: String,
    acctNum: Option[Long], startTs: Option[Long], endTs: Long,
    elapsed: Int, topLevel: String) extends Entry {
  def tag = "tx"
  def toCsv: String = Seq("tx", server, service, logId, optS(acctNum),
    optS(startTs), endTs.toString, elapsed.toString, topLevel).mkString("|")
}

/** entries.js:52-84 */
case class StatEntry(timestamp: Long, server: String, service: String,
    tpm: Double, average: Option[Double], per75: Option[Double],
    per95: Option[Double]) extends Entry {
  def tag = "st"
  def toCsv: String = Seq("st", timestamp.toString, server, service,
    nf2(tpm), optS(average), optS(per75), optS(per95)).mkString("|")
}

/** One metric's z-score block of a FullStatEntry. */
case class ZBlock(value: Option[Double], avg: Option[Double],
    lb: Option[Double], ub: Option[Double], signal: Int) {
  def toCsv: String =
    Seq(optS(value), optS(avg), optS(lb), optS(ub), signal.toString).mkString(":")
}
object ZBlock {
  def fromCsv(s: String): ZBlock = {
    val p = s.split(":", -1)
    ZBlock(optD(p(0)), optD(p(1)), optD(p(2)), optD(p(3)), p(4).toInt)
  }
}

/** entries.js:86-152 — note the CSV order swaps lag before tpm relative
  * to the constructor (entries.js:185).
  */
case class FullStatEntry(timestamp: Long, server: String, service: String,
    tpm: Double, lag: Int, average: ZBlock, per75: ZBlock, per95: ZBlock)
    extends Entry {
  def tag = "fs"
  def toCsv: String = Seq("fs", timestamp.toString, server, service,
    lag.toString, nf2(tpm), average.toCsv, per75.toCsv, per95.toCsv)
    .mkString("|")
}

/** entries.js:202-241 — the nested entry's pipes escape to `&`. */
case class AlertEntry(alertTimestamp: Long, entryTimestamp: Long,
    server: String, service: String, cause: String, entry: FullStatEntry)
    extends Entry {
  def tag = "al"
  def toCsv: String = Seq("al", alertTimestamp.toString,
    entryTimestamp.toString, server, service, cause,
    entry.toCsv.replace('|', '&')).mkString("|")
}

/** entries.js:243-332 (flattened wide row). */
case class JmxEntry(timestamp: Long, server: String,
    dsInUse: Int, dsActive: Int, dsAvailable: Int,
    heapUsed: Long, heapCommitted: Long, heapMax: Long,
    metaUsed: Long, metaCommitted: Long, metaMax: Long,
    sysLoad: Double, classCnt: Int, threadCnt: Int, daemonThreadCnt: Int,
    beanPoolAvailable: Int, beanPoolCurrentSize: Int, beanPoolMaxSize: Int)
    extends Entry {
  def tag = "jx"
  def toCsv: String = Seq("jx", timestamp, server, dsInUse, dsActive,
    dsAvailable, heapUsed, heapCommitted, heapMax, metaUsed, metaCommitted,
    metaMax, sysLoad, classCnt, threadCnt, daemonThreadCnt,
    beanPoolAvailable, beanPoolCurrentSize, beanPoolMaxSize)
    .map(_.toString).mkString("|")
}

/** Type-tag demux parser (entries.js:174-193). */
object Entry {
  def fromCsv(line: String): Entry = {
    val p = line.split("\\|", -1)
    p(0) match {
      case "tx" => TxEntry(p(1), p(2), p(3), optL(p(4)), optL(p(5)),
        p(6).toLong, p(7).toInt, p(8))
      case "st" => StatEntry(p(1).toLong, p(2), p(3), p(4).toDouble,
        optD(p(5)), optD(p(6)), optD(p(7)))
      case "fs" => FullStatEntry(p(1).toLong, p(2), p(3), p(5).toDouble,
        p(4).toInt, ZBlock.fromCsv(p(6)), ZBlock.fromCsv(p(7)),
        ZBlock.fromCsv(p(8)))
      case "al" =>
        val nested = fromCsv(p(6).replace('&', '|')).asInstanceOf[FullStatEntry]
        AlertEntry(p(1).toLong, p(2).toLong, p(3), p(4), p(5), nested)
      case "jx" => JmxEntry(p(1).toLong, p(2), p(3).toInt, p(4).toInt,
        p(5).toInt, p(6).toLong, p(7).toLong, p(8).toLong, p(9).toLong,
        p(10).toLong, p(11).toLong, p(12).toDouble, p(13).toInt,
        p(14).toInt, p(15).toInt, p(16).toInt, p(17).toInt, p(18).toInt)
      case t => throw new IllegalArgumentException(s"unknown tag $t")
    }
  }
}
