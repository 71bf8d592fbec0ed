import org.slf4j.{Logger, LoggerFactory}

package object graft {

  /** The library's one logger. Library code never prints: stdout is
    * the bench's JSON channel, so diagnostics (build-stage timers,
    * adaptive route choices) go here and follow the session's log
    * level.
    */
  private[graft] val Log: Logger = LoggerFactory.getLogger("graft")
}
