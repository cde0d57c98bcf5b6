package graft.runtime

import java.time.{Duration, LocalDateTime, LocalTime}

/** Runtime shell: env config (O19), retry wrapper (O17), daily scheduler
  * (O16), graceful shutdown (O18). Pure decision logic is separated from
  * sleeping/looping so every rule is unit-testable.
  */
object Scheduler {

  /** Resources per search page (reference `src/main.rs:360`). */
  val BlazePageResourceCount = 5000

  /** Blaze health-check attempts per sync run (reference `src/main.rs:361`). */
  val BlazeNumConnectionAttempts = 20

  /** Wall-clock time of the daily sync (reference `src/main.rs:362`). */
  val TargetTime: LocalTime = LocalTime.of(3, 0)

  /** Engine config from environment — reference `src/main.rs:22-34,
    * 352-365`: the 5 required vars and the PostgreSQL port; the
    * reference's hard-coded values are the constants above.
    */
  final case class Config(
    blazeBaseUrl: String,
    pgHost: String,
    pgUsername: String,
    pgPassword: String,
    pgDbName: String,
    pgPort: Int = 5432)

  object Config {
    /** Required env vars, same names as the reference (`src/main.rs:352-357`). */
    def fromEnv(env: Map[String, String] = sys.env): Either[String, Config] = {
      def req(k: String): Either[String, String] =
        env.get(k).toRight(s"missing env var $k")
      for {
        blaze <- req("BLAZE_BASE_URL")
        host <- req("PG_HOST")
        user <- req("PG_USERNAME")
        pass <- req("PG_PASSWORD")
        db <- req("PG_DBNAME")
      } yield Config(blaze, host, user, pass, db)
    }

    def jdbcUrl(c: Config): String =
      s"jdbc:postgresql://${c.pgHost}:${c.pgPort}/${c.pgDbName}"
  }

  /** Retry with fixed backoff — reference `src/db_utils.rs:6-32` (PG, 5 s)
    * and `src/db_utils.rs:35-59` (Blaze health, 60 s). `sleep` injected for
    * tests.
    */
  @annotation.tailrec
  def retry[T](attempts: Int, backoff: Duration,
               sleep: Duration => Unit = d => Thread.sleep(d.toMillis))
              (op: () => Either[String, T]): Either[String, T] =
    op() match {
      case r @ Right(_) => r
      case Left(err) if attempts <= 1 => Left(err)
      case Left(_) =>
        sleep(backoff)
        retry(attempts - 1, backoff, sleep)(op)
    }

  /** The reference's firing rule (`src/main.rs:396`): a 60 s tick fires
    * when wall-clock hour and minute equal the target — once per day,
    * since the tick period equals the match window.
    */
  def shouldFire(now: LocalDateTime, target: LocalTime): Boolean =
    now.getHour == target.getHour && now.getMinute == target.getMinute

  /** Run `sync` once at boot (reference `src/main.rs:379`) then on every
    * matching tick until `shuttingDown` flips (reference
    * `src/main.rs:388-411`). Sync errors are logged-and-continue
    * (reference `src/main.rs:383-386, 398-405`), never fatal.
    */
  def loop(tick: Duration,
           target: LocalTime,
           now: () => LocalDateTime,
           sleep: Duration => Unit,
           shuttingDown: () => Boolean,
           onError: Throwable => Unit = _ => ())(sync: () => Unit): Unit = {
    def runSafe(): Unit =
      try sync() catch { case t: Throwable => onError(t) }
    runSafe()
    while (!shuttingDown()) {
      sleep(tick)
      if (!shuttingDown() && shouldFire(now(), target)) runSafe()
    }
  }

  /** Graceful shutdown (reference `src/graceful_shutdown.rs:3-16`): JVM
    * shutdown hook flips the flag the loop polls; Spark's own hook stops
    * the session after.
    */
  def installShutdownHook(): () => Boolean = {
    @volatile var down = false
    Runtime.getRuntime.addShutdownHook(new Thread(() => { down = true }))
    () => down
  }
}
