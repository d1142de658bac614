package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conversation-level features over the transcript table
  * (conv_id, turn_idx, role, text, tool, ts) — the per-entity summary
  * vector a transcript-training pipeline keys its curation decisions on
  * (length/role-mix filters, tool-usage stratification, latency QC).
  *
  * Scale shape: [[summarize]] is ONE shuffle on conv_id — the gap window
  * and the final groupBy share HashPartitioning(conv_id), so Catalyst
  * plans a single Exchange (and over a conv_id-bucketed table, none:
  * q_bucketed_pipeline's layout serves this family too). All aggregates
  * are partial-agg friendly except the window's lag, which is why the
  * window runs first and the aggregation consumes its output in the same
  * partitioning. Exact-integer outputs (counts, epoch-second gaps) keep
  * it under the DuckDB oracle (q_conv_features, q_reply_latency).
  */
object ConvFeatures {

  /** One row per conversation: turn counts by role, tool usage, time
    * span, and the largest inter-turn gap (the sessionization signal,
    * surfaced as a feature). `text` NULLs count zero chars.
    */
  def summarize(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))
    val gap = col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long")
    turns
      .withColumn("__gap", gap)
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
        sum(when(col("role") === "assistant", 1L).otherwise(0L)).as("n_assistant"),
        sum(when(col("tool").isNotNull, 1L).otherwise(0L)).as("n_tool_calls"),
        count_distinct(col("tool")).as("n_distinct_tools"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        (max(col("ts")).cast("long") - min(col("ts")).cast("long"))
          .as("duration_sec"),
        sum(coalesce(length(col("text")).cast("long"), lit(0L)))
          .as("total_chars"),
        max(col("__gap")).as("max_gap_sec")
      )
  }

  /** Whole-conversation content fingerprint + exact dedup: a
    * conversation's digest is md5 over its turns' role:text pairs in (ts,
    * turn_idx) order — role INCLUDED, so a user/assistant flip of the
    * same words is a different conversation. Null text becomes a NUL
    * sentinel; turns join on U+0001 and role/text join on U+0002, so
    * ["ab","c"] never collides with ["a","bc"]. Text that itself
    * contains these control codepoints could still collide — scrub
    * control characters upstream if the corpus can contain them.
    * `kept` marks the
    * min-conv_id representative per digest — transcript-level exact
    * dedup, the conversation analogue of
    * [[graft.ops.Dedup.exactGroups]] (re-scraped or double-ingested
    * sessions collapse even though every turn row differs by conv_id).
    *
    * Scale shape: one conv_id exchange builds the ordered digest (the
    * same partitioning the rest of this family rides), then the keeper
    * choice is a digest-keyed window over one row per CONVERSATION —
    * corpus-row cardinality never reaches the second exchange.
    */
  def dedupConversations(turns: DataFrame): DataFrame = {
    val ordered = sort_array(collect_list(struct(
      col("ts"), col("turn_idx"),
      concat(col("role"), lit("\u0002"),
        coalesce(col("text"), lit("\u0000"))).as("t"))))
    val digest = md5(concat_ws("\u0001",
      transform(ordered, s => s("t"))).cast("binary"))
    val perConv = turns.groupBy(col("conv_id"))
      .agg(digest.as("conv_digest"), count(lit(1)).as("n_turns"))
    perConv.withColumn("kept",
      col("conv_id") === min(col("conv_id"))
        .over(Window.partitionBy(col("conv_digest"))))
  }

  /** Role-transition matrix: corpus-wide counts of (role → next role)
    * adjacencies in conversation order — the dialogue-structure
    * fingerprint used for corpus QC (a crawl whose user→user fraction
    * spikes is broken threading) and for stratifying by interaction
    * shape. One conv_id exchange for the lead, then a partial-agg
    * rollup over at most |roles|² rows.
    */
  def roleTransitions(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))
    turns
      .withColumn("__next", lead(col("role"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("role"), col("__next").as("next_role"))
      .agg(count(lit(1)).as("n"))
  }

  /** Trailing context assembly: for every turn, the concatenation of the
    * previous (up to) `lookback` turns' role-prefixed text in the
    * conversation's (ts, turn_idx) order — the "context window" column a
    * turn-level training example carries. Strictly PRECEDING rows only
    * (frame ends at 1 PRECEDING), so the feature is point-in-time
    * correct by construction: a turn never sees itself or its future
    * (the zero-leakage contract the as-of family enforces). NULL texts
    * contribute their role tag with an empty body; the first turn gets
    * an empty context, not NULL, so downstream tokenization needs no
    * null branch.
    *
    * Scale shape: one conv_id shuffle; the window frame is BOUNDED at
    * `lookback` rows, so per-row state is O(lookback·avg_text) — no
    * running unbounded collect. Over the bucketed layout the Exchange
    * disappears entirely (same partitioning as the rest of this family).
    */
  def turnContext(turns: DataFrame, lookback: Int): DataFrame = {
    require(lookback > 0, "lookback must be positive")
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("turn_idx"))
      .rowsBetween(-lookback, -1)
    val tagged = concat(col("role"), lit(": "), coalesce(col("text"), lit("")))
    turns.select(
      col("conv_id"),
      col("turn_idx"),
      col("role"),
      concat_ws("\n", collect_list(tagged).over(w)).as("context_text"),
      size(collect_list(tagged).over(w)).cast("long").as("context_turns")
    )
  }

  /** Consecutive same-role turn MERGE — the transcript normalization
    * every chat-template renderer assumes has run (clients that send
    * three assistant messages in a row produce one logical reply; a
    * template that alternates roles mis-renders the raw form). Maximal
    * runs of equal `role` in (ts, turn_idx) order collapse to one turn:
    * bodies joined by `\n` in order (null text renders empty, the
    * [[turnContext]] convention), `ts`/`first_turn_idx` from the run's
    * first turn, `n_merged` auditing the collapse, and `merged_idx`
    * re-indexing the conversation densely from 0. Ordering follows the
    * family contract (non-null ts; [[orderAudit]] is the QC gate).
    *
    * Scale shape: the classic gaps-and-islands pair of per-conversation
    * windows (rn − rn_by_role), one (conv, role, run) aggregation whose
    * per-group collect is bounded by the run's own length, and one
    * per-conversation re-index window over the MERGED rows — every
    * stage is conversation-bounded; one conv_id exchange geometry, so
    * the bucketed layout elides it.
    */
  def mergeTurns(turns: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("turn_idx"))
    val ordRole = Window.partitionBy(col("conv_id"), col("role"))
      .orderBy(col("ts"), col("turn_idx"))
    val runs = turns
      .withColumn("__grp",
        row_number().over(ord) - row_number().over(ordRole))
      .groupBy(col("conv_id"), col("role"), col("__grp"))
      .agg(
        min(col("ts")).as("ts"),
        min(col("turn_idx")).as("first_turn_idx"),
        count(lit(1)).as("n_merged"),
        concat_ws("\n", transform(
          sort_array(collect_list(struct(
            col("ts").as("t"), col("turn_idx").as("i"),
            coalesce(col("text"), lit("")).as("x")))),
          s => s.getField("x"))).as("text"))
    val reIdx = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("first_turn_idx"))
    runs
      .withColumn("merged_idx", (row_number().over(reIdx) - 1).cast("int"))
      .select(col("conv_id"), col("merged_idx"), col("role"), col("text"),
        col("ts"), col("first_turn_idx"), col("n_merged"))
  }

  /** Context-budget SUFFIX trim — the standard chat truncation: keep
    * every `systemRole` turn (instructions must survive) plus the
    * longest SUFFIX of non-system turns, in (ts, turn_idx) order, whose
    * whitespace-token total fits `budgetTokens`. Returns the kept turns
    * with `n_tokens` and `tail_tokens` — the non-system token total
    * from this turn to the conversation's end, the number the budget
    * was compared against (system turns contribute 0 to every suffix,
    * so their own row reports the non-system tail below them). A single
    * oversized turn drops even if it is the most recent — the suffix
    * property is kept exact rather than special-cased (stated, not
    * engine luck). Token accounting here is the honest whitespace count
    * ([[graft.ops.TextStats.wsTokenCount]]); swap in the BPE walk for
    * tokenizer-true budgets.
    *
    * Scale shape: one conv_id exchange. The suffix total is computed as
    * conversation_total − running_prefix_before — two O(n) frames
    * (whole-partition and growing-from-start), NOT a
    * current-row-to-partition-end frame: Spark evaluates
    * unbounded-FOLLOWING frames by re-aggregating the remaining rows at
    * every row (UnboundedFollowingWindowFunctionFrame), which is O(n²)
    * in a mega-conversation. Over the bucketed layout the exchange
    * disappears.
    */
  def contextBudgetTrim(
      turns: DataFrame,
      budgetTokens: Long,
      systemRole: String = "system"
  ): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be non-negative")
    val isSys = col("role") === systemRole
    val nToks = when(isSys, 0L).otherwise(
      graft.ops.TextStats.wsTokenCount(coalesce(col("text"), lit(""))))
    val ord = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("turn_idx"))
    val whole = Window.partitionBy(col("conv_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val upTo = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    turns
      .withColumn("n_tokens",
        graft.ops.TextStats.wsTokenCount(coalesce(col("text"), lit(""))))
      .withColumn("tail_tokens",
        sum(nToks).over(whole) - sum(nToks).over(upTo) + nToks)
      .filter(isSys || col("tail_tokens") <= budgetTokens)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("ts"), col("n_tokens"), col("tail_tokens"))
  }

  /** Renders each conversation to ONE training-ready text: turns in
    * stable (ts, turn_idx) order, each line `role: text` (tool turns
    * tagged `role[tool]: text`, null text rendered empty), joined by
    * `\n` — the "serialize transcript to SFT example" step at the end of
    * every chat-data pipeline, where the north rule's per-turn
    * byte-equality contract becomes per-CONVERSATION byte-equality of
    * the rendered string (the oracle replays it with an ordered
    * string_agg).
    *
    * Scale shape: one conv_id-keyed aggregation; the per-group
    * `sort_array(collect_list(struct(ts, turn_idx, line)))` is bounded
    * by conversation length — the same per-conversation geometry as
    * [[Curation.assembleSequences]] — never by corpus size.
    */
  /** The rendered form of one turn — shared by [[renderConversation]] and
    * [[sftSpans]] so span offsets always index the rendered string.
    */
  private def renderedLine: Column = concat(
    col("role"),
    when(col("tool").isNotNull, concat(lit("["), col("tool"), lit("]")))
      .otherwise(lit("")),
    lit(": "),
    coalesce(col("text"), lit("")))

  def renderConversation(turns: DataFrame): DataFrame = {
    val line = renderedLine
    turns
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        concat_ws("\n",
          transform(
            array_sort(collect_list(struct(
              // exact micros, NOT ts.cast("long") (whole seconds): the
              // sort key must carry the timestamp's full precision or
              // sub-second turns would render in a different order than
              // [[sftSpans]] (and the oracle) sort them
              unix_micros(col("ts")).as("t"),
              col("turn_idx").as("i"),
              line.as("line")))),
            x => x.getField("line"))).as("sft_text"))
      .withColumn("n_chars", length(col("sft_text")).cast("long"))
  }

  /** Per-turn character spans into [[renderConversation]]'s output plus
    * the SFT loss mask: `[start_off, end_off)` (0-based, end-exclusive)
    * is exactly where this turn's rendered line lands in the
    * conversation's training string, and `loss_mask` is true for
    * assistant turns — the spans a trainer needs to compute loss only on
    * model turns without re-tokenizing per turn. The offset invariant
    * (`sft_text.substring(start_off, end_off) == rendered line`) is
    * property-tested; offsets count the `\n` joiners (+1 per preceding
    * line).
    *
    * Scale shape: one running-sum window per conversation in the same
    * (ts, turn_idx) sort the render uses — no join back to the rendered
    * string needed.
    *
    * Contract: (conv_id, ts, turn_idx) must uniquely identify turns —
    * the render breaks a duplicate sort key by line CONTENT (array_sort
    * over the full struct) while this window has no line to break ties
    * with, so duplicate keys would desynchronize span offsets from the
    * rendered string.
    */
  def sftSpans(turns: DataFrame): DataFrame = {
    val line = renderedLine
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val start =
      coalesce(sum(length(line).cast("long") + 1L).over(w), lit(0L))
    turns.select(
      col("conv_id"),
      col("turn_idx"),
      col("role"),
      start.as("start_off"),
      (start + length(line).cast("long")).as("end_off"),
      (col("role") === "assistant").as("loss_mask"))
  }

  /** Reply latency: for every `user` turn, seconds until the next
    * `assistant` turn in the conversation's (ts, turn_idx) order — NULL
    * when the conversation never answers. A label-generation primitive
    * (it looks FORWARD, like [[AsOfNative.joinForward]]) so it must
    * never feed features at the same anchor — callers join it as a
    * training target, not a feature.
    *
    * One window over one shuffle: the "next assistant ts" is a running
    * conditional min over the FOLLOWING row frame, computed in the same
    * sort the gap features use — no self-join of the turn table against
    * its own future, which is the naive formulation's extra shuffle.
    */
  def replyLatency(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("turn_idx"))
      .rowsBetween(1, Window.unboundedFollowing)
    val nextAssist =
      min(when(col("role") === "assistant", col("ts"))).over(w)
    turns
      .withColumn("__next", nextAssist)
      .filter(col("role") === "user")
      .select(
        col("conv_id"),
        col("turn_idx"),
        (col("__next").cast("long") - col("ts").cast("long"))
          .as("latency_sec")
      )
  }

  /** GROUNDING score per assistant turn — the hallucination gauge for
    * agent transcripts: of the turn's distinct words, how many appeared
    * in a STRICTLY EARLIER tool-output turn of the same conversation?
    * `grounded_words / total_words` (emitted as the exact integer
    * numerator/denominator) is the "did the answer come from the tool
    * result?" signal an RLHF/SFT curation pass filters or stratifies on.
    * Words are whitespace tokens of non-null `text`, deduped within the
    * turn; an assistant turn with no words emits (0, 0) — stated, not
    * dropped, so the output is one row per assistant turn.
    *
    * Scale shape: the tool side collapses to its FIRST occurrence per
    * (conv_id, word) — a partial-agg min, so a tool word repeated 10⁶
    * times in one conversation crosses the exchange once — then ONE
    * (conv_id, word)-keyed join against the assistant turns' distinct
    * words decides groundedness (`first tool idx < turn idx`: the
    * strictly-earlier check needs only the minimum, never the full
    * posting list). Both shuffles are fine-grained in (conv, word); the
    * final rollup and anchor join key on (conv_id, turn_idx).
    */
  def groundingScore(turns: DataFrame): DataFrame = {
    def words(side: DataFrame) = side
      .filter(col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val toolFirst = words(turns.filter(col("role") === "tool"))
      .groupBy(col("conv_id"), col("word"))
      .agg(min(col("turn_idx")).as("__first_tool"))
    val asstWords = words(turns.filter(col("role") === "assistant"))
      .distinct()
    val scored = asstWords
      .join(toolFirst, Seq("conv_id", "word"), "left")
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(
        count(lit(1)).as("__total"),
        sum(when(col("__first_tool") < col("turn_idx"), 1L).otherwise(0L))
          .as("__grounded"))
    turns.filter(col("role") === "assistant")
      .select(col("conv_id"), col("turn_idx"))
      .join(scored, Seq("conv_id", "turn_idx"), "left")
      .select(col("conv_id"), col("turn_idx"),
        coalesce(col("__grounded"), lit(0L)).as("grounded_words"),
        coalesce(col("__total"), lit(0L)).as("total_words"))
  }

  /** Tool-call SEQUENCE mining: corpus-wide counts of consecutive
    * tool-call k-grams (k = 3) per conversation — the agent-behavior
    * profile ("retrieve → retrieve → summarize") that drives curriculum
    * stratification and loop/abuse detection (a conversation stuck in
    * `(t, t, t)` shows up as one dominant trigram). Consecutive means
    * adjacent among the conversation's TOOL CALLS in turn order — the
    * prose turns between calls don't break a pattern.
    *
    * Scale shape: tool turns are a small slice of the transcript
    * (filter before the shuffle); the trigram assembly is one per-conv
    * lead window; the count is partial-agg over an alphabet³ key space.
    * `minSupport` cuts the long tail at the agg, not the driver.
    */
  def toolTrigrams(turns: DataFrame, minSupport: Long = 1L): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    turns.filter(col("tool").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("tool"))
      .withColumn("t2", lead(col("tool"), 1).over(w))
      .withColumn("t3", lead(col("tool"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(col("tool").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
  }

  /** ECHO (parroting) score per assistant turn — the complement of
    * [[groundingScore]]: of the turn's distinct words, how many appear
    * in the NEAREST PRECEDING USER turn of the same conversation?
    * High echo = the assistant restates the prompt instead of adding
    * content — the instruction-parroting signal an SFT curation pass
    * downweights. Exact integer numerator/denominator; an assistant
    * turn with no words, or with no preceding user turn, emits
    * (0, total) honestly rather than being dropped.
    *
    * Scale shape: the anchor pairing is a running `max(user idx)` over
    * a strictly-preceding frame — the same single conv_id window
    * geometry as lag/LOCF. Word matching is one (conv, user_idx, word)
    * fine-grained left join between the two deduped word sets, then a
    * (conv, turn)-keyed rollup; no step holds a conversation in memory.
    */
  def echoScore(turns: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val asst = turns
      .withColumn("__prev_user",
        max(when(col("role") === "user", col("turn_idx"))).over(wPrev))
      .filter(col("role") === "assistant")
      .select(col("conv_id"), col("turn_idx"), col("__prev_user"), col("text"))
    val asstWords = asst.filter(col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("__prev_user"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .distinct()
    val userWords = turns
      .filter(col("role") === "user" && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx").as("__prev_user"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .distinct()
      .withColumn("__hit", lit(1L))
    val scored = asstWords
      .join(userWords, Seq("conv_id", "__prev_user", "word"), "left")
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(
        count(lit(1)).as("__total"),
        sum(coalesce(col("__hit"), lit(0L))).as("__echoed"))
    asst.select(col("conv_id"), col("turn_idx"))
      .join(scored, Seq("conv_id", "turn_idx"), "left")
      .select(col("conv_id"), col("turn_idx"),
        coalesce(col("__echoed"), lit(0L)).as("echoed_words"),
        coalesce(col("__total"), lit(0L)).as("total_words"))
  }

  /** STUCK-LOOP detector: for every assistant turn with non-null text,
    * the turn_idx of the FIRST assistant turn in the same conversation
    * with byte-identical text, and whether this turn is a repeat of it.
    * An agent looping ("I'll try again" × 40) lights up as a run of
    * `is_repeat` rows all pointing at one `first_idx` — the drop/
    * truncate signal transcript curation applies before packing.
    *
    * Scale shape: turns shuffle as 16-byte md5 digests, never as text
    * (same digest-not-payload trade as the conversation dedup family;
    * cross-text md5 collision is accepted and documented there). One
    * (conv, digest) partial-agg min + one fine-grained join back — no
    * window, so a mega-conversation costs its scan, not a sort.
    */
  def selfRepeat(turns: DataFrame): DataFrame = {
    val asst = turns
      .filter(col("role") === "assistant" && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        md5(col("text").cast("binary")).as("__digest"))
    val first = asst.groupBy(col("conv_id"), col("__digest"))
      .agg(min(col("turn_idx")).as("first_idx"))
    asst.join(first, Seq("conv_id", "__digest"))
      .select(col("conv_id"), col("turn_idx"), col("first_idx"),
        (col("turn_idx") > col("first_idx")).as("is_repeat"))
  }

  /** Exact type-token ratio per conversation over one role's turns:
    * (distinct words, total words) as integers — the lexical-diversity
    * gauge (low TTR = repetitive/templated output) used beside the
    * repetition fractions when stratifying generation quality. One row
    * per conversation in the input, (0, 0) when the role contributes
    * no words — stated, not dropped.
    *
    * Scale shape: exact distinct via the two-level aggregate — per
    * (conv, word) counts partial-agg first, so a word repeated 10⁶
    * times crosses the exchange once; the conv rollup then counts rows
    * and sums. No distinct-on-strings shuffle of raw text volume.
    */
  /** Turn-ORDER integrity audit per conversation — the ingest QC gate
    * the as-of/window family assumes has already run: exact counts of
    * duplicate turn indexes (rows minus distinct indexes), index gaps
    * (consecutive distinct-index jumps > 1), strict timestamp
    * inversions in turn order, null timestamps, plus the first index
    * (≠ 0 flags a truncated head). A conversation scoring all zeros
    * with first_idx 0 is safe for every ordered operator downstream.
    *
    * Null-ts rows are COUNTED but excluded from the inversion window:
    * engines disagree on null ordering (Spark sorts nulls first,
    * others last), so including them would make "inversion" an
    * engine-dependent fact rather than a property of the data.
    *
    * Scale shape: one conv_id exchange shared by the lag window and
    * the rollup (the [[summarize]] geometry); every counter is a
    * partial-agg sum over window outputs.
    */
  def orderAudit(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"), col("ts"))
    val stepped = turns.filter(col("ts").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("ts"))
      .withColumn("__prev_idx", lag(col("turn_idx"), 1).over(w))
      .withColumn("__prev_ts", lag(col("ts"), 1).over(w))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("__n"),
        countDistinct(col("turn_idx")).as("__n_idx"),
        min(col("turn_idx")).as("first_idx"),
        sum(when(col("turn_idx") - col("__prev_idx") > 1, 1L).otherwise(0L))
          .as("n_idx_gaps"),
        sum(when(col("ts") < col("__prev_ts"), 1L).otherwise(0L))
          .as("n_ts_inversions"))
    val nullTs = turns.filter(col("ts").isNull)
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("__n_null"))
    // full outer: an all-null-ts conversation still audits (first_idx
    // is null there — unknowable without a usable order, stated as such)
    stepped.join(nullTs, Seq("conv_id"), "full")
      .select(col("conv_id"),
        (coalesce(col("__n"), lit(0L)) + coalesce(col("__n_null"), lit(0L)))
          .as("n_turns"),
        (coalesce(col("__n"), lit(0L)) - coalesce(col("__n_idx"), lit(0L)))
          .as("n_dup_idx"),
        col("first_idx"),
        coalesce(col("n_idx_gaps"), lit(0L)).as("n_idx_gaps"),
        coalesce(col("n_ts_inversions"), lit(0L)).as("n_ts_inversions"),
        coalesce(col("__n_null"), lit(0L)).as("n_null_ts"))
  }

  def lexicalDiversity(turns: DataFrame, role: String = "assistant"): DataFrame = {
    val perWord = turns
      .filter(col("role") === role && col("text").isNotNull)
      .select(col("conv_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("conv_id"), col("word"))
      .agg(count(lit(1)).as("__n"))
    val rolled = perWord.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("__distinct"), sum(col("__n")).as("__total"))
    turns.select(col("conv_id")).distinct()
      .join(rolled, Seq("conv_id"), "left")
      .select(col("conv_id"),
        coalesce(col("__distinct"), lit(0L)).as("distinct_words"),
        coalesce(col("__total"), lit(0L)).as("total_words"))
  }

  /** Composed per-conversation QUALITY GATE — the keep/drop decision a
    * transcript-curation run actually applies, assembled from this
    * family's signals in ONE Catalyst job: order integrity
    * ([[orderAudit]]), grounding ([[groundingScore]] rolled up), echo
    * ([[echoScore]] rolled up), loop rate ([[selfRepeat]] rolled up),
    * and lexical diversity ([[lexicalDiversity]]). All thresholds are
    * integer BASIS POINTS checked by cross-multiplication — no float
    * division anywhere, so the gate is bit-stable across engines.
    *
    * `drop_reason` is FIRST-ERROR-ONLY in a fixed severity order
    * (order → empty → ungrounded → echo → loop → low_ttr) — the same
    * reporting contract as the wary rule gate (one actionable reason,
    * not a bitmap). `keep` conversations carry a null reason. Every
    * conversation emits exactly one row with its full feature vector,
    * so the gate doubles as the per-conversation quality table.
    *
    * Denominators are stated, not conflated: grounding/echo totals are
    * sums of per-turn DISTINCT word counts (the per-turn contract),
    * TTR's total is raw word occurrences.
    *
    * Scale shape: five conv-keyed aggregates — each with the scale
    * geometry of its operator (word-grained partial aggs, digest-only
    * shuffles, one audit window) — meet in conv_id-keyed left joins;
    * nothing driver-side, no step holds a conversation in memory.
    */
  def qualityGate(
      turns: DataFrame,
      minGroundedBp: Int = 1000,
      maxEchoBp: Int = 8000,
      maxRepeatBp: Int = 2500,
      minTtrBp: Int = 2000): DataFrame = {
    Seq(minGroundedBp, maxEchoBp, maxRepeatBp, minTtrBp).foreach { bp =>
      require(bp >= 0 && bp <= 10000, s"threshold must be 0..10000 bp, got $bp")
    }
    // five signal branches each re-derive the turns input (for a derived
    // transcript view that is a scan + window per branch); materialize it
    // once (lazy localCheckpoint, fresh per invocation) so the branches
    // share one pass: fewer exchanges without it, but slower
    val turnsOnce = turns.localCheckpoint(false)
    val g = groundingScore(turnsOnce).groupBy(col("conv_id")).agg(
      sum(col("grounded_words")).as("grounded_words"),
      sum(col("total_words")).as("grounding_total"))
    val e = echoScore(turnsOnce).groupBy(col("conv_id")).agg(
      sum(col("echoed_words")).as("echoed_words"),
      sum(col("total_words")).as("echo_total"))
    val r = selfRepeat(turnsOnce).groupBy(col("conv_id")).agg(
      sum(when(col("is_repeat"), 1L).otherwise(0L)).as("n_repeats"),
      count(lit(1)).as("n_hashed_turns"))
    val l = lexicalDiversity(turnsOnce)
    val a = orderAudit(turnsOnce)
    val joined = a
      .join(g, Seq("conv_id"), "left")
      .join(e, Seq("conv_id"), "left")
      .join(r, Seq("conv_id"), "left")
      .join(l, Seq("conv_id"), "left")
      .na.fill(0L, Seq("grounded_words", "grounding_total", "echoed_words",
        "echo_total", "n_repeats", "n_hashed_turns"))
    val orderBad = col("n_dup_idx") > 0 || col("n_idx_gaps") > 0 ||
      col("n_ts_inversions") > 0 || col("n_null_ts") > 0 ||
      col("first_idx").isNull || col("first_idx") =!= 0
    val empty = col("grounding_total") === 0L
    val ungrounded =
      col("grounded_words") * 10000L < lit(minGroundedBp.toLong) * col("grounding_total")
    val echoey =
      col("echoed_words") * 10000L > lit(maxEchoBp.toLong) * col("echo_total")
    val loopy =
      col("n_repeats") * 10000L > lit(maxRepeatBp.toLong) * col("n_hashed_turns")
    val lowTtr =
      col("distinct_words") * 10000L < lit(minTtrBp.toLong) * col("total_words")
    val reason = when(orderBad, "order")
      .when(empty, "empty")
      .when(ungrounded, "ungrounded")
      .when(echoey, "echo")
      .when(loopy, "loop")
      .when(lowTtr, "low_ttr")
    joined.select(col("conv_id"), col("n_turns"), col("n_dup_idx"),
      col("n_idx_gaps"), col("n_ts_inversions"), col("n_null_ts"),
      col("grounded_words"), col("grounding_total"),
      col("echoed_words"), col("echo_total"),
      col("n_repeats"), col("n_hashed_turns"),
      col("distinct_words"), col("total_words"),
      reason.isNull.as("keep"), reason.as("drop_reason"))
  }

  /** Topic segmentation by lexical drift: a turn STARTS a new segment
    * when its distinct-word set's Jaccard similarity with the
    * immediately preceding turn falls below `tauBp` basis points —
    * division-free as the integer cross-multiply
    *
    *   boundary  ⇔  |A∩B| · 10⁴  <  tauBp · |A∪B|
    *
    * The first turn always opens segment 1. Two EMPTY word sets (null or
    * whitespace text) are NOT a boundary — 0 < tauBp·0 is false — i.e.
    * absence of evidence keeps the running segment, stated not hidden.
    * `segment_id` is the running boundary count in (ts, turn_idx) order.
    *
    * Scale shape: ONE conv_id exchange — the lag and the running sum
    * share the same partitioning and sort, so Catalyst plans a single
    * Window exec; word sets never leave their row (no explode).
    */
  def topicSegments(turns: DataFrame, tauBp: Long = 2000L): DataFrame = {
    require(tauBp >= 0 && tauBp <= 10000, "tauBp must be basis points")
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))
    val ws = array_distinct(filter(
      split(lower(coalesce(col("text"), lit(""))), " "), x => x =!= ""))
    val withPrev = turns
      .select(col("conv_id"), col("turn_idx"), col("ts"), ws.as("__ws"))
      .withColumn("__prev", lag(col("__ws"), 1).over(w))
    val inter = size(array_intersect(col("__ws"), col("__prev"))).cast("long")
    val union = size(array_union(col("__ws"), col("__prev"))).cast("long")
    withPrev
      .withColumn("is_boundary",
        when(col("__prev").isNull, lit(true))
          .otherwise(inter * 10000L < lit(tauBp) * union))
      .withColumn("segment_id",
        sum(col("is_boundary").cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("conv_id", "turn_idx", "is_boundary", "segment_id")
  }
}
