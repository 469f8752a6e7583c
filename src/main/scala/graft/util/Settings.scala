package graft.util

/** Numeric confs and options set by users: a malformed value fails
  * naming its key and the value, never as a bare NumberFormatException
  * from deep inside planning. */
object Settings {
  def parsed[T](key: String, value: String)(parse: String => T): T =
    try parse(value.trim)
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft: '$key' must be an integer, got '$value'")
    }
}
