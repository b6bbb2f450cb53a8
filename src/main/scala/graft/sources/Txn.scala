package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one optimistic-commit loop under [[CommitLog]], [[DeltaLite]] and
  * [[IcebergLite]] — the Delta Lake log + optimistic concurrency control
  * + LogStore design (Armbrust et al., VLDB 2020, PAPERS.md:9), with
  * Iceberg's metadata-pointer swap as the same loop over a different
  * serializer. Every commit, on every attempt:
  *
  *   1. finds the head;
  *   2. builds its actions against that head;
  *   3. runs its conflict [[Rule]] against that SAME head — on the first
  *      attempt too: a commit that landed between the operation's
  *      snapshot pin and its put would otherwise be clobbered;
  *   4. puts version head+1 if absent ([[AtomicCreate]]);
  *   5. on a lost race, deletes the attempt's commit-private files and
  *      retries — at most [[MaxAttempts]] times, then fails loudly with
  *      [[Exhausted]].
  *
  * A format supplies a [[Log]] (head discovery, the version file, the
  * serializer); an operation supplies its attempt and its [[Rule]]. */
private[sources] object Txn {

  /** Attempts per commit before it fails with [[Exhausted]]. */
  val MaxAttempts = 10

  /** A format's half of the protocol over one table. */
  abstract class Log[A](val fs: FileSystem, val table: String) {
    /** Highest committed version (the format's own "empty" value when
      * there is none). */
    def head(): Long
    /** The file whose creation claims version `v`. */
    def versionFile(v: Long): Path
    /** The bytes of version `v`, carrying `actions`. */
    def encode(v: Long, actions: A): Array[Byte]
    /** Runs once after this writer claimed version `v`. */
    def published(v: Long): Unit = ()
  }

  /** What one attempt hands the loop. */
  sealed trait Attempt[+A, +R]
  /** Nothing to commit at this head (a replayed epoch, a no-op): the
    * loop returns `result`. */
  final case class Done[R](result: R) extends Attempt[Nothing, R]
  /** Claim the version after the head with `actions`. `privateFiles`
    * are this attempt's commit-private files — deleted when the claim is
    * lost or refused, since nothing references them. */
  final case class Put[A, R](actions: A, result: R,
      privateFiles: Seq[Path] = Nil) extends Attempt[A, R]

  /** Which concurrent commits an operation tolerates. */
  sealed trait Rule
  /** Commutes with every commit: each attempt is rebuilt against its
    * own head (appends, stream epochs, DML that re-plans per attempt). */
  case object Commutes extends Rule
  /** Built once against `version`: any later commit conflicts. The first
    * attempt takes `version` as its head — the operation found it
    * moments before — so it costs no second head lookup. */
  final case class PinnedAt(version: Long) extends Rule
  /** Tolerates the commits for which `conflict(head)` is None. */
  final case class Check(conflict: Long => Option[String]) extends Rule

  /** An operation refused by its rule: a commit it does not commute with
    * landed first. */
  final class Conflict(table: String, operation: String, reason: String)
    extends IllegalStateException(s"$operation on $table conflicts with " +
      s"a concurrent commit ($reason) — re-run it against the new snapshot")

  /** Every attempt lost its race. */
  final class Exhausted(table: String, operation: String, attempts: Int)
    extends IllegalStateException(s"$operation on $table lost the commit " +
      s"race on all $attempts attempts")

  /** Runs `build` against each attempt's head until one put wins, and
    * returns that attempt's result. */
  def commit[A, R](log: Log[A], operation: String, rule: Rule = Commutes)(
      build: Long => Attempt[A, R]): R = {
    var attempt = 0
    while (attempt < MaxAttempts) {
      val head = rule match {
        case PinnedAt(v) if attempt == 0 => v
        case _ => log.head()
      }
      build(head) match {
        case Done(r) => return r
        case Put(actions, r, privateFiles) =>
          val conflict = rule match {
            case Commutes => None
            case PinnedAt(v) =>
              if (head == v) None
              else Some(s"lost a pin-to-commit race: head moved v$v → v$head")
            case Check(f) => f(head)
          }
          conflict.foreach { why =>
            discard(log.fs, privateFiles)
            throw new Conflict(log.table, operation, why)
          }
          if (put(log, head + 1, actions)) return r
          discard(log.fs, privateFiles)
      }
      attempt += 1
    }
    throw new Exhausted(log.table, operation, MaxAttempts)
  }

  /** Step 4 alone: claim version `v` with `actions`. True iff THIS
    * writer created it; I/O failures propagate. */
  def put[A](log: Log[A], v: Long, actions: A): Boolean = {
    val won = AtomicCreate.create(log.fs, log.versionFile(v),
      log.encode(v, actions))
    if (won) log.published(v)
    won
  }

  private def discard(fs: FileSystem, files: Seq[Path]): Unit =
    files.foreach(fs.delete(_, true))
}
