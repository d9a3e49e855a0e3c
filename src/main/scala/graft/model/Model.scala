package graft.model

import java.sql.Timestamp

/** Core data model of the engine (SURVEY.md §1.3).
  *
  * The reference (Benthos) is bytes-first and schemaless: a message "Part"
  * is raw bytes + lazily parsed JSON + a flat string metadata map
  * (reference: internal/message/part.go:29-42). Our engine is schema-first:
  * the unit of data is a typed row of a Catalyst Dataset. The mandated
  * payload shape (BASELINE.json `input_hint`) is a conversation turn.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String, // user | assistant | tool
    text: String,
    tool: String, // null unless role == tool
    ts: Timestamp
)

/** A turn as buffered inside conv-keyed streaming state. The state-store
  * key IS the conv_id, so carrying it again inside every buffered row is
  * pure serialization waste — at the bench generator's shape (~11-char
  * conv ids, ~60-char texts) it is ~15% of state bytes, paid on every
  * RocksDB put/get, changelog upload, and whole-buffer re-serialization
  * of a touched key. The session join (`SessionJoin.pairStreaming`)
  * buffers this shape and re-attaches conv_id at flush.
  *
  * Checkpoint compatibility: the buffer is persisted through the
  * versioned state envelope (streaming/StateEnvelope.scala), a binary
  * value with a 1-byte version tag, so a change to this layout is a
  * codec change, not a Catalyst state-schema change.
  */
final case class BufTurn(
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

object BufTurn {
  def of(t: Turn): BufTurn = BufTurn(t.turn_idx, t.role, t.text, t.tool, t.ts)
  def toTurn(convId: String, b: BufTurn): Turn =
    Turn(convId, b.turn_idx, b.role, b.text, b.tool, b.ts)
}

/** A turn carrying engine metadata — the Spark mapping of Benthos's
  * Part.metadata map + error flag (internal/message/part.go:129-138,209-245).
  * `error == null` means the row is healthy; processors route on it
  * (try/catch/switch, SURVEY.md §2.9).
  */
final case class MetaTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp,
    meta: Map[String, String],
    error: String
)

/** Output of the flagship session join: a user turn paired with the
  * assistant/tool turns that answer it inside the same session window
  * (the reference pattern: config/examples/joining_streams.yaml:23-56,
  * hydration via cache branch).
  */
final case class PairedTurn(
    conv_id: String,
    session_id: Long, // index of the session within the conversation
    user_turn_idx: Int,
    user_text: String,
    reply_turn_idx: Int,
    reply_role: String,
    reply_text: String,
    reply_tool: String,
    user_ts: Timestamp,
    reply_ts: Timestamp
)

/** Per-(conv, window) aggregate row — the windowed reduce shape from the
  * reference's system_window buffer example
  * (internal/impl/pure/buffer_system_window.go:96-127).
  */
final case class WindowAgg(
    conv_id: String,
    window_start: Long, // epoch seconds (engine-neutral for oracles)
    n_turns: Long,
    n_tools: Long,
    sum_chars: Long
)
