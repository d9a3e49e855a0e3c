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
