package perfbench

import scala.util.Random

/** Seeded generator for every workload input. The program under test
  * sees only what this produces (documents, JSON requests, JSONL
  * batches); nothing here is read back from the program.
  *
  * Documents have the shape of the sf0.1 `documents` table: 10–100
  * words drawn uniformly from its 30-word vocabulary. Every text ends in
  * a full stop, so the C4 line rules keep it whole. */
final class Gen(seed: Long) {
  private val rnd = new Random(seed)

  val baseVocab: Vector[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  def int(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)
  def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))

  /** A word no generated document contains ("z" + five letters). */
  def zeroHitWord(): String =
    "z" + (1 to 5).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString

  private var uniq = 0
  /** A token unique to this run: letters only, never a vocabulary word
    * and never produced by [[zeroHitWord]]. */
  def uniqueToken(): String = {
    uniq += 1
    var n = (seed.abs % 100000) * 100000 + uniq
    val sb = new StringBuilder("uq")
    while (n > 0) { sb.append(('a' + (n % 26)).toChar); n /= 26 }
    sb.toString
  }

  /** One document text: `minWords`–`maxWords` vocabulary words, then a
    * full stop. */
  def text(minWords: Int, maxWords: Int): String =
    text(int(minWords, maxWords))

  def text(words: Int): String =
    Vector.fill(words)(pick(baseVocab)).mkString(" ") + "."

  /** Tenant names: tenant 0 is the big one. */
  def tenants(n: Int): Vector[String] =
    Vector.tabulate(n)(i => f"org_$i%02d")

  /** Tenants of `n` documents with fixed sizes: 2 of every 5 go to
    * tenant 0, the rest in turn to the others, so every seed builds a
    * store (or a batch) of the same shape and only the texts differ. */
  def seedTenants(n: Int, ts: Vector[String]): Vector[String] = {
    var small = 0
    Vector.tabulate(n) { i =>
      if (i % 5 == 0 || i % 5 == 2) ts(0)
      else { small += 1; ts(1 + (small - 1) % (ts.size - 1)) }
    }
  }


  /** Query text: 2–3 words from one of the tenant's documents, or two
    * words no document holds. */
  def query(tenantDocs: IndexedSeq[String], zeroHit: Boolean = false): String =
    if (zeroHit) s"${zeroHitWord()} ${zeroHitWord()}"
    else {
      val ws = pick(tenantDocs).stripSuffix(".").split(" ").toVector
      Vector.fill(int(2, 3))(pick(ws)).mkString(" ")
    }
}

object Gen {
  /** `period` ranks in Zipf(1.0) proportions over `n` ranks, spread
    * evenly (smooth weighted round-robin), so every stretch of requests
    * carries close to the Zipf shares: rank 0 most often. */
  def zipfSchedule(n: Int, period: Int): Vector[Int] = {
    val w = Vector.tabulate(n)(i => 1.0 / (i + 1))
    val cur = Array.fill(n)(0.0)
    Vector.fill(period) {
      w.indices.foreach(i => cur(i) += w(i))
      val i = cur.indices.maxBy(cur(_))
      cur(i) -= w.sum
      i
    }
  }

  /** Word count of seeded document `i`: 10–100 in a fixed order (37 is
    * prime to 91), so every seed's store holds the same lengths and only
    * the words differ. */
  def seedLength(i: Int): Int = 10 + (i * 37) % 91

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""
}
