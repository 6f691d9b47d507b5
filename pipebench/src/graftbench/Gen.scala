package graftbench

import scala.collection.mutable

/** One seeded change generator for both workloads: the reference
  * `gen_data.py` mix of ticket, movie and user inserts at 5 : 1 : 0.33,
  * scheduled → live and live → finished status flips at 4 : 3 against
  * them (capped by the tickets there are to flip), ticket cost uniform in
  * $8.50–25.00 and initial status 70/20/10 — plus a small share of ticket
  * deletes and movie retitles so the retract paths run.
  *
  * The generator is a state machine over its own copy of the tables, so
  * it is also the reference every correctness gate compares against. The
  * same seed always yields the same ledger: [[Ev.frame]] is the verbatim
  * Debezium JSON the streaming workload replays, and [[LakeBatch]] is the
  * same slice of the ledger as the SQL DML of the lake workload. */
object Gen {
  final case class Ticket(id: Long, movieId: Long, userId: Long, cents: Long,
                          status: String, purchasedMs: Long)
  final case class Movie(id: Long, title: String, startMs: Long, durationMin: Int)
  final case class User(id: Long, name: String)

  /** One change record: `op` is c/u/d, `before`/`after` the row images. */
  final case class Ev(lsn: Long, tsMs: Long, table: String, op: String,
                      before: Option[Product], after: Option[Product]) {
    def frame: String = {
      def img(r: Option[Product]) = r.fold("null")(rowJson)
      s"""{"payload":{"before":${img(before)},"after":${img(after)},""" +
        s""""source":{"connector":"postgresql","db":"moviedb","schema":"public",""" +
        s""""table":"$table","lsn":$lsn,"ts_ms":$tsMs},"op":"$op","ts_ms":$tsMs}}"""
    }
  }

  private val BaseMs = 1706000000000L

  private def iso(ms: Long): String =
    java.time.LocalDateTime.ofEpochSecond(ms / 1000, 0, java.time.ZoneOffset.UTC).toString

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  def rowJson(r: Product): String = r match {
    case t: Ticket =>
      s"""{"ticket_id":${t.id},"movie_id":${t.movieId},"user_id":${t.userId},""" +
        s""""cost":${money(t.cents)},"status":"${t.status}","purchased_at":"${iso(t.purchasedMs)}"}"""
    case m: Movie =>
      s"""{"movie_id":${m.id},"title":"${m.title}","start_date":"${iso(m.startMs)}",""" +
        s""""duration_minutes":${m.durationMin}}"""
    case u: User => s"""{"user_id":${u.id},"name":"${u.name}"}"""
    case other => throw new IllegalArgumentException(s"not a ledger row: $other")
  }

  /** The slice of the ledger one lake generation applies, net per key:
    * ticket upserts (latest image of every key the slice left alive),
    * ticket deletes (keys the slice removed) and movie upserts (new and
    * retitled movies). Users do not reach the lake tables. */
  final case class LakeBatch(ticketUpserts: Seq[Ticket], ticketDeletes: Seq[Long],
                             movieUpserts: Seq[Movie]) {
    def changedRows: Long = ticketUpserts.size + ticketDeletes.size + movieUpserts.size
  }

  def lakeBatch(evs: Seq[Ev]): LakeBatch = {
    val tickets = mutable.LinkedHashMap.empty[Long, Option[Ticket]]
    val movies = mutable.LinkedHashMap.empty[Long, Movie]
    evs.foreach { e =>
      (e.table, e.after, e.before) match {
        case ("tickets", Some(t: Ticket), _) => tickets(t.id) = Some(t)
        case ("tickets", None, Some(t: Ticket)) => tickets(t.id) = None
        case ("movies", Some(m: Movie), _) => movies(m.id) = m
        case _ => ()
      }
    }
    LakeBatch(tickets.valuesIterator.flatten.toSeq,
      tickets.collect { case (k, None) => k }.toSeq, movies.values.toSeq)
  }

  /** SHA-256 over the Debezium frames — the ledger's identity. */
  def ledgerHash(evs: Iterator[Ev]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    evs.foreach(e => md.update((e.frame + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

final class Gen(seed: Long) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed)
  private var lsn = 0L

  val tickets = mutable.LongMap.empty[Ticket]
  val movies = mutable.LongMap.empty[Movie]
  val users = mutable.LongMap.empty[User]
  private var nextTicket = 1L
  private var retitles = 0L

  /** Random-access id pools with O(1) removal (swap with the last slot). */
  private final class Pool {
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val at = mutable.LongMap.empty[Int]
    def size: Int = ids.size
    def add(id: Long): Unit = { at(id) = ids.size; ids += id }
    def remove(id: Long): Unit = at.remove(id).foreach { i =>
      val last = ids.remove(ids.size - 1)
      if (last != id) { ids(i) = last; at(last) = i }
    }
    def pick(): Long = ids(rnd.nextInt(ids.size))
  }
  private val alive = new Pool
  private val scheduled = new Pool
  private val live = new Pool

  // Event mix weights, from the gen_data.py cadence documented in
  // FIXTURES.md (gen_data.py:160,171-200): per 10 s, 5 ticket inserts,
  // 1 movie, 0.33 users, and two update batches of 1-3 scheduled -> live
  // and 1-2 live -> finished flips, i.e. 4 and 3 flips. Ticket deletes and
  // movie retitles are the small extra share that exercises retraction.
  private val weights = Array(5.0, 1.0, 0.33, 4.0, 3.0, 0.25, 0.15)
  private val total = weights.sum

  private def emit(table: String, op: String, before: Option[Product],
                   after: Option[Product]): Ev = {
    lsn += 1
    Ev(lsn, BaseMs + lsn * 1000L, table, op, before, after)
  }

  private def insertMovie(): Ev = {
    val id = movies.size + 1L
    val m = Movie(id, s"movie-$id", BaseMs + rnd.nextLong(86400L * 90) * 1000L,
      80 + rnd.nextInt(100))
    movies(id) = m
    emit("movies", "c", None, Some(m))
  }

  private def insertUser(): Ev = {
    val id = users.size + 1L
    val u = User(id, s"user-$id")
    users(id) = u
    emit("users", "c", None, Some(u))
  }

  private def insertTicket(): Ev = {
    val id = nextTicket
    nextTicket += 1
    val p = rnd.nextInt(100)
    val status = if (p < 70) "scheduled" else if (p < 90) "live" else "finished"
    val t = Ticket(id, 1L + rnd.nextInt(movies.size), 1L + rnd.nextInt(users.size),
      850L + rnd.nextLong(2500L - 850L + 1L), status, BaseMs + (lsn + 1) * 1000L)
    tickets(id) = t
    alive.add(id)
    poolOf(status).foreach(_.add(id))
    emit("tickets", "c", None, Some(t))
  }

  private def poolOf(status: String): Option[Pool] = status match {
    case "scheduled" => Some(scheduled)
    case "live" => Some(live)
    case _ => None
  }

  /** Moves a random ticket of `from` one status on. */
  private def flipTicket(from: Pool): Ev = {
    val before = tickets(from.pick())
    val after = before.copy(status = if (before.status == "scheduled") "live" else "finished")
    tickets(after.id) = after
    from.remove(after.id)
    poolOf(after.status).foreach(_.add(after.id))
    emit("tickets", "u", Some(before), Some(after))
  }

  private def deleteTicket(): Ev = {
    val t = tickets(alive.pick())
    tickets.remove(t.id)
    alive.remove(t.id)
    poolOf(t.status).foreach(_.remove(t.id))
    emit("tickets", "d", Some(t), None)
  }

  private def retitleMovie(): Ev = {
    val before = movies(1L + rnd.nextInt(movies.size))
    retitles += 1
    val after = before.copy(title = s"movie-${before.id}-r$retitles")
    movies(after.id) = after
    emit("movies", "u", Some(before), Some(after))
  }

  private def one(): Ev =
    if (movies.isEmpty) insertMovie()
    else if (users.isEmpty) insertUser()
    else {
      var x = rnd.nextDouble() * total
      var k = 0
      while (k < weights.length - 1 && x >= weights(k)) { x -= weights(k); k += 1 }
      k match {
        case 0 => insertTicket()
        case 1 => insertMovie()
        case 2 => insertUser()
        case 3 if scheduled.size > 0 => flipTicket(scheduled)
        case 4 if live.size > 0 => flipTicket(live)
        case 5 if alive.size > 0 => deleteTicket()
        case 6 => retitleMovie()
        // no ticket to flip or delete: draw again, as the reference then
        // flips fewer, so the insert ratio stays 5 : 1 : 0.33
        case _ => one()
      }
    }

  /** The next `n` events of the ledger, applied to the generator's state. */
  def next(n: Int): Vector[Ev] = Vector.fill(n)(one())
}

/** Prints the ledger hash of a seed: `LedgerHash <seed> <events>` hashes
  * the Debezium frames and, separately, the same events cut into lake
  * batches. pipebench/test_gen.py checks both are functions of the seed. */
object LedgerHash {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val n = args(1).toInt
    val frames = Gen.ledgerHash(new Gen(seed).next(n).iterator)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val g = new Gen(seed)
    (0 until n by 300).foreach { i =>
      md.update(Gen.lakeBatch(g.next(math.min(300, n - i))).toString.getBytes("UTF-8"))
    }
    println(s"frames=$frames lake=${md.digest().map("%02x".format(_)).mkString}")
  }
}
