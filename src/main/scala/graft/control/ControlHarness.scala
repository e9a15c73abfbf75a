package graft.control

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import graft.model.{Ack, Command, InstanceStatus}

/** The driver-side control loop (ST6-ST8): a micro-batch interpreter
  * over the command stream that mutates the pipeline through
  * `StreamingQuery` stop/rebuild/start, mirroring
  * processor/pipeline_manager.py:217-334 + processor/processor.py:207-273.
  *
  * Differences from the reference, by design (SURVEY.md §7.4.5):
  * commands are interpreted on the driver between micro-batches instead
  * of on a broker callback thread, so a 20 s restart cannot block ACK
  * emission for *other* instances; per-command ACK ordering
  * (received → completed|error) is preserved because interpretation is
  * sequential within a batch.
  *
  * Two-level pause (ST6, pipeline_manager.py:134-215):
  *  - level 1 (immediate): `paused` gate — read per micro-batch by the
  *    data pipeline's pauseGatedWriter, so output stops at the next
  *    batch boundary while in-flight work drains;
  *  - level 2 (drain): `stop` terminates the pipeline query entirely.
  * Resume order is pipeline-first-then-ungate, so no stale in-flight
  * output is published into the un-gated window.
  *
  * Layering of `stop`: the harness ITSELF supports resume-after-stop
  * (an embedded host may keep the control loop alive indefinitely); the
  * CLI app instead exits the process once `isStopped` — the reference's
  * behavior, where the supervising join() returns and the orchestrator
  * respawns (processor.py:236-266). A resume racing process death is
  * then dropped exactly as it would be against the reference. */
class ControlHarness(
    initial: EngineConfig,
    buildPipeline: (EngineConfig, () => Boolean) => StreamingQuery,
    emitAcks: Seq[Ack] => Unit,
    emitStatus: InstanceStatus => Unit,
    clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    onMetricsRequest: EngineConfig => Unit = _ => ()) {

  @volatile private var _config: EngineConfig = initial
  @volatile private var _paused: Boolean = false
  @volatile private var _stopped: Boolean = false
  @volatile private var _pipeline: Option[StreamingQuery] = None
  @volatile private var _restarting: Boolean = false
  private val startedAt: Timestamp = clock()

  def config: EngineConfig = _config
  def isPaused: Boolean = _paused
  def isStopped: Boolean = _stopped
  def pipeline: Option[StreamingQuery] = _pipeline
  def uptimeSeconds(now: Timestamp): Double =
    (now.getTime - startedAt.getTime) / 1000.0

  /** The engine's current run state — the reference's
    * `_get_current_status`, same precedence (processor.py:474-489:
    * stopped > paused > restarting > running). Both pause and stop
    * terminate the pipeline query here (two-level pause), so an explicit
    * `_stopped` flag — the reference's `is_running` — is what separates
    * them. `restarting` is only observable by emission happening inside
    * a restart; external observers serialize on the harness lock and see
    * the settled state. */
  def liveStatus: String =
    if (_stopped) "stopped"
    else if (_paused) "paused"
    else if (_restarting) "restarting"
    else "running"

  def start(): Unit = synchronized {
    _pipeline = Some(buildPipeline(_config, () => _paused))
  }

  /** Interpret one command end-to-end: pure decision via
    * [[CommandInterpreter]], then effects (gate flips, query lifecycle)
    * in the reference's ordering. */
  def handle(cmd: Command): Unit = synchronized {
    val now = clock()
    val result = CommandInterpreter.interpret(_config, cmd, now, liveStatus)
    val name = Option(cmd.command).getOrElse("").toLowerCase.trim
    val applied = result.acks.lastOption.map(_.ack_status).contains("completed")
    if (applied) name match {
      case "pause" =>
        // two-level (ST6, pipeline_manager.py:134-215): gate FIRST —
        // output stops at the next batch boundary — then stop the
        // pipeline query (the "stop buffering, drain in-flight" level)
        _paused = true
        _pipeline.foreach(_.stop())
      case "resume" =>
        // pipeline-first-then-ungate (pipeline_manager.py:199-208)
        if (_pipeline.forall(!_.isActive)) restartPipeline()
        _paused = false
        _stopped = false
      case "stop" =>
        // gate + terminate now; the externally-visible `_stopped` flag is
        // raised only AFTER the ACK/status emission below, so a host that
        // exits on isStopped (the CLI app) cannot kill the control query
        // before the stop command's own completed ACK and final status
        // have been written
        _paused = true
        _pipeline.foreach(_.stop())
      case "restart" =>
        // an explicit restart brings a stopped/paused engine back to
        // running (the reference's restart ends in status "running",
        // command_handlers.py:191-228) — clear both levels BEFORE the
        // rebuild below so the new query is not born gated
        _paused = false
        _stopped = false
      case _ => ()
    }
    _config = result.config
    // A reconfigure while STOPPED must NOT revive the query: the new
    // config applies, but starting a pipeline whose gate discards every
    // batch would consume (and lose) the preserved backlog while status
    // still answers "stopped". The next resume builds with the new config.
    if (applied && result.restartRequired && !_stopped) restartPipeline()
    // sink failures must not kill the command loop (the reference logs
    // and continues, control_plane.py:316-327); state changes above
    // already took effect
    // On-demand METRICS publication (command_handlers.py:340-372): an
    // injected effect (the app wires Metrics.fullReport → the retained
    // metrics table). Isolated from ACK emission — a publication failure
    // must not swallow the command's received→completed ACKs.
    if (applied && name == "metrics") {
      try onMetricsRequest(_config)
      catch {
        case e: Exception =>
          System.err.println(s"[control] metrics publication failed: ${e.getMessage}")
      }
    }
    try {
      emitAcks(result.acks)
      result.status.foreach { st =>
        // runtime enrichment (P7): uptime + component health
        // (command_handlers.py:391-411). `is_paused`/`liveStatus` must
        // already reflect a stop here even though `_stopped` is raised
        // after emission — the interpreter received liveStatus up front
        // and `_paused` was set in the effect block above.
        val health = Map(
          "is_paused" -> _paused,
          "pipeline_running" -> _pipeline.exists(_.isActive),
          "control_plane_connected" -> true)
        emitStatus(st.copy(uptime_seconds = Some(uptimeSeconds(now)),
          health = if (st.pong.contains(true)) Some(health) else st.health))
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[control] ack/status emit failed: ${e.getMessage}")
    } finally {
      if (applied && name == "stop") _stopped = true
    }
  }

  /** ST7: terminate → rebuild with the (already-validated) new config →
    * start. The rebuild is side-effect-free plan construction, so there
    * is nothing to roll back here — config rollback happened at
    * validation time inside the interpreter. */
  private def restartPipeline(): Unit = {
    _restarting = true
    try {
      _pipeline.foreach(_.stop())
      _pipeline = Some(buildPipeline(_config, () => _paused))
    } finally _restarting = false
  }

  /** Attach to a streaming command source: a micro-batch loop
    * ([[graft.streaming.StatefulOps.eachBatch]]) that interprets the
    * batch's commands in arrival order. The command volume is
    * human-scale (a control topic), so the per-batch collect is a few
    * rows — never event data.
    *
    * Process-exit semantics for `stop` (processor.py:236-266): once a
    * stop command has been applied — its own received→completed ACKs and
    * final "stopped" status emitted, `isStopped` raised — commands LATER
    * in the same micro-batch are intentionally dropped without ACKs,
    * exactly as commands arriving after the reference process exits are
    * never consumed. Checking the flag here makes that deterministic:
    * previously the host's `isStopped`-triggered query teardown raced
    * the tail of the batch, so trailing commands sometimes ACKed and
    * sometimes vanished mid-emit. (Direct `handle()` callers — embedded
    * hosts that resume after stop — are unaffected; the layering note in
    * the class doc applies.) */
  def attach(commands: DataFrame, orderCol: String): DataStreamWriter[Row] = {
    import org.apache.spark.sql.functions.col
    graft.streaming.StatefulOps.eachBatch(commands) { (batch, _) =>
      val rows = batch.orderBy(col(orderCol)).collect()
      rows.iterator.takeWhile(_ => !_stopped).foreach { r =>
        val params = Option(r.getAs[scala.collection.Map[String, String]]("params"))
          .map(_.toMap).getOrElse(Map.empty[String, String])
        val targets = Option(r.getAs[scala.collection.Seq[String]]("target_instances"))
          .map(_.toSeq).getOrElse(Seq.empty[String])
        handle(Command(r.getAs[String]("command"), params, targets))
      }
    }
  }
}
