package graft.util

/** Driver-side parsing of numeric data-source options and env vars.
  * A malformed or unusable value fails once, where the option is read on
  * the driver and before any task runs, with a message that names the
  * key — instead of a bare `NumberFormatException` in every executor task.
  */
object NumericOption {

  def int(key: String, raw: Option[String], default: Int, min: Int): Int =
    parse(key, raw, default, min)(_.toIntOption)

  def long(key: String, raw: Option[String], default: Long, min: Long): Long =
    parse(key, raw, default, min)(_.toLongOption)

  private def parse[N](key: String, raw: Option[String], default: N, min: N)(
      read: String => Option[N])(implicit ord: Ordering[N]): N =
    raw.fold(default) { v =>
      read(v.trim).filter(ord.gteq(_, min)).getOrElse(
        throw new IllegalArgumentException(
          s"'$key' must be an integer >= $min, got '$v'"))
    }
}
