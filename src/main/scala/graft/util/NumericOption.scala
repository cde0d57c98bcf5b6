package graft.util

/** Driver-side parsing of numeric data-source options and env vars.
  * A malformed or unusable value fails once, where the option is read on
  * the driver and before any task runs, with a message that names the
  * key — instead of a bare `NumberFormatException` in every executor task.
  */
object NumericOption {

  def int(key: String, raw: Option[String], default: Int, min: Int): Int =
    raw.fold(default) { v =>
      v.trim.toIntOption.filter(_ >= min).getOrElse(
        throw new IllegalArgumentException(
          s"'$key' must be an integer >= $min, got '$v'"))
    }
}
