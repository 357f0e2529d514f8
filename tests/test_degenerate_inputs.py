"""Degenerate-input robustness: every registered query must handle EMPTY
and NEAR-EMPTY tables without crashing.

At 100 TB this is not an edge case: heavy filters, partition pruning, and
backfill windows routinely hand operators zero or near-zero rows — a
training job that crashes at 3 a.m. because one day's partition is empty
(np.vstack on nothing, approxQuantile returning [], k-means with fewer
points than clusters, BPE over an empty vocabulary) is an operational
incident. Round-5 probe result being pinned here: 187/187 queries return
cleanly (0 rows is fine; obscure internals crashes are not) on both a
fully-empty and a 2-rows-per-table snapshot of the standard schema.

The sweeps construct the degenerate dirs from the test SF's parquet (so
schemas — including nanosecond-timestamp quirks in events — stay exactly
what `tables.load_table` expects), then call every `queries()` entry.
Marked slow: two full-registry sweeps cost a few minutes of scheduling
latency even though no data moves.
"""

from __future__ import annotations

import glob
import os

import pytest

from graph_vulcan_assets_spark.registry import all_queries

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _build_degenerate_dir(out: str, src: str, limit: int) -> None:
    import duckdb

    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        duckdb.sql(
            f"COPY (SELECT * FROM '{src}/{t}.parquet' LIMIT {limit}) "
            f"TO '{out}/{t}.parquet' (FORMAT parquet)"
        )


def _build_hostile_dir(out: str, src: str) -> None:
    """20 clean rows per table plus adversarial rows: NULL text/labels,
    empty and 100 KB single-token documents, unicode storms, regex
    metacharacters, NaN/±Inf embedding components, a finite-but-absurd
    1e30 component (overflows squared-micros BIGINT arithmetic past any
    isfinite check — pins EMBED_BOUND), the all-zero vector, a
    wrong-dimension vector, NULL vectors, a NULL component inside an
    otherwise-clean vector, NaN/±Inf event values, a finite-but-absurd
    1e308 value (overflows integer-micros quantization to Inf), a
    NULL-ts and a NULL-value event INSIDE a busy user's partition (so
    NULL-ordering divergence has neighbors to corrupt), NULL
    event-times, malformed JSON props, extreme timestamps on both sides
    of the two event-time domains, extreme 64-bit ids, and (round 7)
    extreme STRINGS in keyed/dictionary columns — 100 KB keys, embedded
    NULs, control-char-edged keys. The round-5 sweep over exactly this
    data found (and fixed) 8 crashes and one quadratic-fold hang; the
    round-7 string probe found (and fixed) the CSV writer's silent
    whitespace trimming and DuckDB's NUL-terminating Unicode normalizer
    — this fixture keeps them all fixed."""
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        if t in ("documents", "embeddings", "events", "customer", "lineitem"):
            continue
        con.sql(
            f"COPY (SELECT * FROM '{src}/{t}.parquet' LIMIT 20) "
            f"TO '{out}/{t}.parquet' (FORMAT parquet)"
        )
    # lineitem: 20 clean rows + a ZERO-VARIANCE group (round-11 aggregate-
    # dialect probe): a brand-new returnflag 'Z' whose quantities are all
    # equal — perfectly clean data, no gate excludes it — made Spark's
    # corr() raise DIVIDE_BY_ZERO under default ANSI mode while DuckDB's
    # corr returned NULL; q_agg_stats now uses the guarded moment form.
    con.sql(f"""
    COPY (
      SELECT * FROM (SELECT * FROM '{src}/lineitem.parquet' LIMIT 20)
      UNION ALL BY NAME
      -- zero-variance returnflag group (corr query-killer class): all
      -- three rows share l_quantity 7.0 with varying prices, so
      -- var_pop(l_quantity) = 0 exactly on both engines and the guarded
      -- moment form in q_agg_stats yields NULL on both — the bare corr()
      -- it replaced ANSI-errored on Spark and NULLed on DuckDB. Order/
      -- part/supplier keys are nonexistent, so every join drops these
      -- rows identically; flags 'Z'/'F' are outside the TPC-H shape
      -- filters' constants.
      SELECT * FROM (VALUES
        (95001, 999901, 999901, 1, 7.0, 1000.50, 0.05, 0.02, 'Z', 'F',
         TIMESTAMP '1996-03-15 00:00:00'),
        (95002, 999902, 999902, 1, 7.0, 2000.25, 0.04, 0.03, 'Z', 'F',
         TIMESTAMP '1996-04-20 00:00:00'),
        (95003, 999903, 999903, 2, 7.0, 3000.75, 0.06, 0.01, 'Z', 'F',
         TIMESTAMP '1996-05-25 00:00:00')
      ) AS v(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             l_extendedprice, l_discount, l_tax, l_returnflag,
             l_linestatus, l_shipdate)
    ) TO '{out}/lineitem.parquet' (FORMAT parquet)
    """)
    # customer: 20 clean rows + names ENDING IN A LINE TERMINATOR
    # (round-9 regex-dialect probe): Java's $ matches before a final
    # \n/\r/\r\n while RE2's $ is end-of-text only, so the old
    # '([0-9]+)$' numpart extraction answered '000099' on Spark and ''
    # on the oracle for 9401/9402; the \z anchor nulls both to '' —
    # and 9403 (no digits at all) pins the shared no-match '' form.
    # Other columns stay in-domain so every customer-joining query
    # treats these as ordinary unmatched customers on both engines.
    con.sql(f"""
    COPY (
      SELECT * FROM (SELECT * FROM '{src}/customer.parquet' LIMIT 20)
      UNION ALL BY NAME
      SELECT * FROM (VALUES
        (9401, 'Customer#000099' || chr(10), 1::INTEGER, 100.0, 'BUILDING'),
        (9402, 'Customer#000042' || chr(13) || chr(10), 2::INTEGER, 200.0,
         'MACHINERY'),
        (9403, 'NoTrailingDigitsAtAll', 3::INTEGER, 300.0, 'AUTOMOBILE'),
        -- round-10 case-mapping probe: names hitting the four
        -- full-vs-simple Unicode case-mapping divergence classes
        -- (Java 'ß'->'SS' vs utf8proc 'ß'->U+1E9E; ligature expansion;
        -- dotted-I combining mark; context-sensitive final sigma).
        -- q_str_funcs must NULL up for all four SYMMETRICALLY (the
        -- ascii_only gate) and q_pii_redact's md5 must still match
        -- (translate-based ASCII fold, not lower()). Other columns
        -- stay in-domain so joins/groupings treat these as ordinary
        -- customers on both engines; string min/max over c_name stays
        -- aligned because both engines compare UTF-8 bytes.
        (9404, 'Straße#000017', 1::INTEGER, 150.0, 'BUILDING'),
        (9405, 'ﬁle#000023', 2::INTEGER, 250.0, 'MACHINERY'),
        (9406, 'İstanbul#000031', 3::INTEGER, 350.0, 'AUTOMOBILE'),
        (9407, 'ΟΔΟΣ#000047', 4::INTEGER, 450.0, 'FURNITURE')
      ) AS v(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
    ) TO '{out}/customer.parquet' (FORMAT parquet)
    """)
    zero = "[" + ",".join(["0.0"] * 64) + "]::FLOAT[]"
    nan = "[" + ",".join(["'nan'::FLOAT" if i == 5 else "1.0" for i in range(64)]) + "]"
    inf = "[" + ",".join(
        ["'infinity'::FLOAT" if i == 0 else ("'-infinity'::FLOAT" if i == 1 else "1.0") for i in range(64)]
    ) + "]"
    # a NULL COMPONENT (not a NULL vector): DuckDB's list_filter drops
    # NULL-predicate elements while Spark's forall is NULL-strict, so this
    # row pins the gate's e-IS-NULL clause that keeps the engines aligned
    nullcomp = "[" + ",".join(["NULL" if i == 7 else "1.0" for i in range(64)]) + "]::FLOAT[]"
    # finite but absurd: survives an isfinite check, then overflows the
    # squared-micros BIGINT arithmetic (round(1e30*1e6)² ≫ 9.2e18) — pins
    # the EMBED_BOUND clause of the gate on BOTH engines (round-5 advice)
    huge = "[" + ",".join(["1e30::FLOAT" if i == 3 else "1.0" for i in range(64)]) + "]"
    con.sql(f"""
    COPY (
      SELECT * FROM (SELECT * FROM '{src}/documents.parquet' LIMIT 20)
      UNION ALL BY NAME
      SELECT * FROM (VALUES
        (9001, NULL, NULL, NULL, NULL),
        (9002, '', 'en', 'web', 0),
        (9003, '😀😀😀 世界 مرحبا → ∑∫ œΩ≈ç', 'mul', 'web', 30),
        (9004, repeat('x', 100000), 'en', 'web', 100000),
        (9005, chr(9) || chr(10) || chr(13) || 'tab	newline', 'en', 'web', 20),
        (9006, 'quote '' backslash \\ percent % brackets [a-z] regex .* $1', 'en', 'web', 60),
        -- round-10 case-mapping probe: text hitting all four
        -- full-vs-simple Unicode case-mapping divergence classes
        -- (ß / ﬁ-ligature / İ / final sigma). The fingerprint path must
        -- hash it IDENTICALLY on both engines (translate-based ASCII
        -- fold — lower() was measured-divergent here), and every
        -- token-keyed shuffle (tfidf/bm25/vocab) must agree because
        -- both engines compare tokens as UTF-8 bytes
        (9007, 'İstanbul ΟΔΟΣ Straße ﬁle BEﬆ Mixed ASCII Tokens', 'mul', 'web', 47),
        -- round-10 trim probe: NBSP/ideographic-space EDGES. DuckDB's
        -- 1-arg trim strips Unicode Zs spaces while Spark's strips
        -- ASCII 0x20 only, so this row split the fingerprint md5 until
        -- the oracle moved to the explicit trim(text, ' ') form
        (9008, chr(160) || ' nbsp edged text ' || chr(160) || chr(12288),
         'en', 'web', 20),
        -- poison INSIDE the id-bounded subsets (the exact pairwise
        -- n-gram/jaccard ground truths filter doc_id < 200): an id bound
        -- is not a gate — see the vec 150/151 rows below for the
        -- embedding twin of this class
        (150, NULL, NULL, NULL, NULL),
        (151, repeat('y', 100000), 'en', 'web', 100000),
        (152, '', 'en', 'web', 0),
        -- extreme 64-bit doc ids (see the events twin rows): a negative id
        -- flips % residues between pmod-style and sign-keeping engines,
        -- and a 2^62 id breaks double-division parent derivation and
        -- unreduced multiplicative hashes
        (-7, 'negative id doc words here', 'en', 'web', 27),
        (4611686018427387904, 'huge id doc more words', 'en', 'web', 22),
        -- extreme STRINGS in keyed/dictionary columns (round 7 probe):
        -- lang and source are group/partition keys for the curation and
        -- text-analysis families; a 100 KB key, embedded NULs, and a
        -- NUL inside the text body stress dictionary pages, shuffle-key
        -- hashing, and tokenizers on both engines
        (9011, 'plain words here', repeat('L', 100000), 'web', 16),
        (9012, 'more plain words', 'en' || chr(0) || 'x',
         'src' || chr(0) || 'dev', 16),
        (9013, 'nul' || chr(0) || 'body text words', 'en', 'web', 19),
        -- zero-width / combining-char storms (round 8 probe): ZWSP/ZWNJ/
        -- ZWJ/BOM between letters (invisible to the eye, real to every
        -- tokenizer and hash), a 30-mark zalgo storm (canonical-ordering
        -- stress for NFC; all-Mn drop for accent folding), and bidi
        -- controls (RLO/LRM) — divergence candidates between Python's
        -- unicodedata and DuckDB's utf8proc on both the NFC and the
        -- NFD-drop-Mn paths, and shuffle-key / dictionary stress for the
        -- tokenizing queries
        (9021, 'zero' || chr(8203) || 'width' || chr(8204) || 'join'
               || chr(8205) || 'er ' || chr(65279) || 'bom word', 'en', 'web', 26),
        (9022, 'e' || repeat(chr(769), 30) || ' zalgo '
               || 'a' || chr(768) || chr(769) || chr(776) || chr(803)
               || chr(769) || ' storm', 'en', 'web', 45),
        (9023, 'abc ' || chr(8238) || 'cba' || chr(8237) || ' mid '
               || chr(8206) || 'end', 'en', 'web', 14),
        -- the id-bounded-subset twin (ground truths filter doc_id < 200)
        (153, 'p' || chr(8203) || 'air e' || repeat(chr(769), 8)
              || ' words', 'en', 'web', 21)
      ) AS v(doc_id, text, lang, source, n_chars)
    ) TO '{out}/documents.parquet' (FORMAT parquet)
    """)
    con.sql(f"""
    COPY (
      SELECT * FROM (SELECT * FROM '{src}/embeddings.parquet' LIMIT 20)
      UNION ALL BY NAME
      SELECT * FROM (VALUES
        (9001, {zero}, 0),
        (9002, {nan}, 1),
        (9003, {inf}, 2),
        (9004, NULL, NULL),
        (9005, [1.0, 2.0, 3.0]::FLOAT[], 3),
        (9006, {nullcomp}, 4),
        (9007, {huge}, 5),
        -- EMPTY vector (round 8): dim 0 is the extreme wrong-dimension —
        -- a bare ANSI element_at dies on it (pins q_array_funcs'
        -- try_element_at) and Spark's aggregate fold returns the 0.0 init
        -- where DuckDB's list_sum([]) is NULL (pins the oracle's coalesce);
        -- every gated embedding query drops it via len = 64
        (9008, []::FLOAT[], 8),
        -- poison INSIDE the id-bounded subsets (q_dedup_embed's
        -- vec_id < 200): an id bound is not a gate, and before round 6
        -- these rows would 0/0-crash / NaN-pair that query while every
        -- 9xxx row sailed past its filter
        (150, {zero}, 6),
        (151, {huge}, 7),
        (152, []::FLOAT[], 9)
      ) AS v(vec_id, embedding, label)
      UNION ALL BY NAME
      -- a clean vector under a NEGATIVE id (ids are opaque 64-bit keys):
      -- seeds/cells/probes keyed by vec_id ranges must classify it
      -- identically on both engines
      SELECT -11 AS vec_id, embedding, 1 AS label
      FROM (SELECT * FROM '{src}/embeddings.parquet' LIMIT 20)
      WHERE vec_id = 10
    ) TO '{out}/embeddings.parquet' (FORMAT parquet)
    """)
    con.sql(f"""
    COPY (
      WITH clean AS (SELECT * FROM '{src}/events.parquet' LIMIT 20),
      -- the NULL-ts and NULL-value rows MUST land in a window partition
      -- that also has surviving clean rows: a singleton partition cannot
      -- expose NULL-ordering divergence (Spark windows sort NULLs FIRST
      -- ASC, DuckDB LAST), so a hardcoded unused user_id would make the
      -- parity sweep pass vacuously for exactly that class
      busy AS (SELECT user_id AS u, event_type AS et FROM clean
               WHERE user_id IS NOT NULL AND event_type IS NOT NULL
               GROUP BY 1, 2 ORDER BY count(*) DESC, u, et LIMIT 1)
      SELECT * FROM clean
      UNION ALL BY NAME
      SELECT * FROM (VALUES
        (9001, TIMESTAMP '2024-01-01 00:00:00', NULL, NULL, 'nan'::DOUBLE, NULL),
        (9002, TIMESTAMP '2024-01-01 00:00:01', 1, 'click', 'infinity'::DOUBLE, '{{not json'),
        (9003, TIMESTAMP '2024-01-01 00:00:02', 1, 'click', '-infinity'::DOUBLE, '[]'),
        (9005, TIMESTAMP '2024-01-01 00:00:03', 3, 'view', 1e308, '{{"k": 1}}'),
        -- extreme event times (round 6, re-scoped round 7 — two domains):
        -- Year-1 crosses the parquet Julian/Gregorian rebase into year 0
        -- (the Python driver cannot even represent it — collect() dies on
        -- any query that emits the row) and stays GATED by the
        -- representable domain's 1583 floor. Far-future rows (year 2300,
        -- the reference's 9999-12-12 Unexpired sentinel, 9999-12-31) are
        -- VALID data: they must FLOW THROUGH every raw-ts query
        -- (scan/lookup/last-event/minmax/SCD/as-of/funnel) and be dropped
        -- only by the BOUNDED-domain operators (spine generators,
        -- session_window's end = last + gap, streaming state). 9101 sits
        -- INSIDE a busy partition, 9102 inside the purchase slices
        -- (q_filter_eq user 7 / as-of probe side), and 9103 is a LONE
        -- user's ONLY event — so "some later event always wins" luck
        -- cannot mask an ungated last-event/min-max path. 9104 is a
        -- far-future CLICK (probe side of as-of: exercises
        -- ts + INTERVAL arithmetic past year 9999 internally), 9105/9106
        -- far-future and pre-1900 rows inside busy user 1.
        (9101, TIMESTAMP '0001-01-01 00:00:00', 1, 'click', 1.0, '{{}}'),
        (9102, TIMESTAMP '9999-12-31 23:59:59', 7, 'purchase', 1.0, '{{}}'),
        (9103, TIMESTAMP '0001-06-01 00:00:00', 7777, 'click', 2.0, '{{}}'),
        (9104, TIMESTAMP '9999-12-12 00:00:00', 7, 'click', 3.0, '{{}}'),
        (9105, TIMESTAMP '2300-06-15 12:34:56', 1, 'view', 2.5, '{{}}'),
        (9106, TIMESTAMP '1700-01-01 06:00:00', 1, 'click', 0.5, '{{}}'),
        -- extreme STRINGS in keyed/dictionary columns (round 7 probe):
        -- event_type is THE string shuffle/group key of the schema, so a
        -- 100 KB value, an embedded NUL, and control chars exercise
        -- dictionary encodings, shuffle-key hashing, regex/LIKE paths,
        -- and pivot/classification CASE arms on both engines
        (9201, TIMESTAMP '2024-01-03 00:00:00', 42,
         repeat('k', 100000), 1.0, '{{}}'),
        (9202, TIMESTAMP '2024-01-03 00:00:01', 42,
         'nul' || chr(0) || 'key', 2.0, '{{}}'),
        (9203, TIMESTAMP '2024-01-03 00:00:02', 42,
         chr(9) || 'tab key' || chr(10), 1.5, '{{}}'),
        -- hostile JSON payloads (round-7 second axis): a string-valued k
        -- kills a bare ANSI cast; a >int64 number parses as DOUBLE in
        -- DuckDB's JSON reader but stays raw text in Spark's; 1.9 rounds
        -- in DuckDB's cast but errors in Spark's; duplicate keys (both
        -- engines take the FIRST — verified); 100-deep nesting and a
        -- 100 KB payload stress the parsers; raw control chars make the
        -- payload INVALID JSON (json_valid false / Jackson NULL)
        (9301, TIMESTAMP '2024-01-04 00:00:00', 5, 'view', 1.0,
         '{{"k": "abc"}}'),
        (9302, TIMESTAMP '2024-01-04 00:00:01', 5, 'view', 1.0,
         '{{"k": 99999999999999999999}}'),
        (9303, TIMESTAMP '2024-01-04 00:00:02', 5, 'view', 1.0,
         '{{"k": 1.9}}'),
        (9304, TIMESTAMP '2024-01-04 00:00:03', 5, 'view', 1.0,
         '{{"k": 7, "k": 8}}'),
        (9305, TIMESTAMP '2024-01-04 00:00:04', 5, 'view', 1.0,
         repeat('{{"a":', 100) || '1' || repeat('}}', 100)),
        (9306, TIMESTAMP '2024-01-04 00:00:05', 5, 'view', 1.0,
         '{{"k": 4, "pad": "' || repeat('z', 100000) || '"}}'),
        (9307, TIMESTAMP '2024-01-04 00:00:06', 5, 'view', 1.0,
         '{{"k": 5, "s": "a' || chr(0) || 'b"}}'),
        -- int64-EDGE k values (round 8, ADVICE r7): valid int64 text that
        -- passes the integer regex and TRY_CAST, then overflows any bare
        -- downstream arithmetic (k*2 at |k| >= 2^62) — ANSI error on
        -- Spark, out-of-range on DuckDB, both fatal; pins the range-gated
        -- k2 (and abs() is NOT the gate: abs(-2^63) itself overflows)
        (9308, TIMESTAMP '2024-01-04 00:00:07', 5, 'view', 1.0,
         '{{"k": 4611686018427387904}}'),
        (9309, TIMESTAMP '2024-01-04 00:00:08', 5, 'view', 1.0,
         '{{"k": -9223372036854775808}}'),
        (9310, TIMESTAMP '2024-01-04 00:00:09', 5, 'view', 1.0,
         '{{"k": 9223372036854775807}}'),
        -- unicode-escape surrogate handling (round 8 probe): a VALID
        -- escaped surrogate pair (astral 😀), a raw astral char, and a
        -- LONE high surrogate escape — the lone surrogate is the
        -- divergence candidate (parsers may reject, replace with U+FFFD,
        -- or pass through unpaired)
        (9311, TIMESTAMP '2024-01-04 00:00:10', 5, 'view', 1.0,
         '{{"k": 11, "s": "\\ud83d\\ude00"}}'),
        (9312, TIMESTAMP '2024-01-04 00:00:11', 5, 'view', 1.0,
         '{{"k": 12, "s": "😀 raw astral"}}'),
        (9313, TIMESTAMP '2024-01-04 00:00:12', 5, 'view', 1.0,
         '{{"k": 13, "s": "lone \\ud800 surrogate"}}'),
        -- an ESCAPED NUL (backslash-u0000) is VALID JSON per RFC 8259 — unlike the
        -- raw control char in 9307 — so it survives the pre-parse raw-NUL
        -- strip and lands a real NUL inside the EXTRACTED string
        (9314, TIMESTAMP '2024-01-04 00:00:13', 5, 'view', 1.0,
         '{{"k": 14, "s": "esc\\u0000nul"}}'),
        -- round-9 JSON probe: the four Jackson/yyjson-ASYMMETRIC payload
        -- classes (VALUE divergences, not errors) that forced the shared
        -- parse envelope (functions/scalars.py json_parseable). 9315-9317
        -- trailing garbage / extra brace / ws-separated multi-root:
        -- Jackson parses the first root and ignores the rest, yyjson
        -- rejects. 9318-9319 bare NaN/Infinity: yyjson ACCEPTS them
        -- (json_valid true, extraction yields 'NaN'), Jackson rejects.
        -- 9320 nesting depth 1200: Jackson's StreamReadConstraints kill
        -- the payload at depth 1000, yyjson parses any depth. 9321 a
        -- 1001-digit number and 9322 a 60k-char key name: same
        -- constraints split (maxNumberLength 1000 / maxNameLength 50000).
        -- All eight must come out NULL/filtered on BOTH engines via the
        -- envelope. 9323-9324 pin the envelope's PRECISION: a legit
        -- nested payload and an array-of-objects value (whose '}},{{'
        -- seams look like the multi-root pattern but are comma-joined)
        -- must SURVIVE with k intact on both engines.
        (9315, TIMESTAMP '2024-01-04 00:00:14', 5, 'view', 1.0,
         '{{"k": 15}} extra'),
        (9316, TIMESTAMP '2024-01-04 00:00:15', 5, 'view', 1.0,
         '{{"k": 16}}}}'),
        (9317, TIMESTAMP '2024-01-04 00:00:16', 5, 'view', 1.0,
         '{{"k": 17}} {{"x": 1}}'),
        (9318, TIMESTAMP '2024-01-04 00:00:17', 5, 'view', 1.0,
         '{{"missing": NaN, "k": 18}}'),
        (9319, TIMESTAMP '2024-01-04 00:00:18', 5, 'view', 1.0,
         '{{"k": 19, "v": -Infinity}}'),
        (9320, TIMESTAMP '2024-01-04 00:00:19', 5, 'view', 1.0,
         '{{"k": 20, "d": ' || repeat('[', 1200) || repeat(']', 1200) || '}}'),
        (9321, TIMESTAMP '2024-01-04 00:00:20', 5, 'view', 1.0,
         '{{"k": 21, "n": ' || repeat('9', 1001) || '}}'),
        (9322, TIMESTAMP '2024-01-04 00:00:21', 5, 'view', 1.0,
         '{{"' || repeat('a', 60000) || '": 1, "k": 22}}'),
        (9323, TIMESTAMP '2024-01-04 00:00:22', 5, 'view', 1.0,
         '{{"k": 23, "d": {{"a": [1, {{"b": 2}}]}}}}'),
        (9324, TIMESTAMP '2024-01-04 00:00:23', 5, 'view', 1.0,
         '{{"k": 24, "l": [{{"a": 1}}, {{"b": 2}}]}}'),
        -- round-9 regex-dialect probe: a digit string ENDING IN A LINE
        -- TERMINATOR. Java's $ matches before a final terminator while
        -- RE2's $ is end-of-text only, and Spark's cast trims the
        -- terminator — so with the old '^-?[0-9]+$' gate these rows were
        -- k=123/-45 on Spark and NULL on the oracle. The \\z anchor
        -- (absolute end-of-text in BOTH dialects) nulls them identically.
        (9325, TIMESTAMP '2024-01-04 00:00:24', 5, 'view', 1.0,
         '{{"k": "123\\n"}}'),
        (9326, TIMESTAMP '2024-01-04 00:00:25', 5, 'view', 1.0,
         '{{"k": "-45\\r\\n"}}'),
        -- round-10 ADVICE classes (confirmed-divergent through the OLD
        -- envelope): 9327/9328 trailing VT/FF — Java \\s includes \\x0B
        -- (RE2 doesn't) and both dialects include \\f, which NEITHER
        -- parser accepts as JSON whitespace, so the old \\s end-guard
        -- passed them on Spark only (Jackson ignores trailing garbage).
        -- 9329/9330 trailing U+2028/NEL — Java $ matches before a final
        -- line terminator (the r9 q_str_funcs class, resurfacing inside
        -- the envelope's own end-guard); now [ \\t\\r\\n]*\\z. 9331 a
        -- NON-whitespace multi-root join the old '}}\\s*{{' seam guard
        -- missed; now the closer-join guard. 9332 an FP token >= 1002
        -- total chars — Jackson rejects (StreamReadConstraints), yyjson
        -- parses; the number gate now counts token chars, not digits.
        -- 9333/9334 pin the envelope's PRECISION: a 1001-char signed
        -- integer token and a closer-whitespace-comma sequence must
        -- SURVIVE with k intact on both engines.
        (9327, TIMESTAMP '2024-01-04 00:00:26', 5, 'view', 1.0,
         '{{"k": 27}}' || chr(11)),
        (9328, TIMESTAMP '2024-01-04 00:00:27', 5, 'view', 1.0,
         '{{"k": 28}}' || chr(12)),
        (9329, TIMESTAMP '2024-01-04 00:00:28', 5, 'view', 1.0,
         '{{"k": 29}}' || chr(8232)),
        (9330, TIMESTAMP '2024-01-04 00:00:29', 5, 'view', 1.0,
         '{{"k": 30}}' || chr(133)),
        (9331, TIMESTAMP '2024-01-04 00:00:30', 5, 'view', 1.0,
         '{{"k": 31}}x{{"b": 1}}'),
        (9332, TIMESTAMP '2024-01-04 00:00:31', 5, 'view', 1.0,
         '{{"k": 32, "v": ' || repeat('9', 600) || '.' || repeat('9', 600)
         || '}}'),
        (9333, TIMESTAMP '2024-01-04 00:00:32', 5, 'view', 1.0,
         '{{"k": 33, "v": -' || repeat('9', 1000) || '}}'),
        (9334, TIMESTAMP '2024-01-04 00:00:33', 5, 'view', 1.0,
         '{{"k": 34, "a": [1] , "b": {{"c": 2}} , "d": 3}}'),
        -- round-11 aggregate-dialect probe: SUM overflow. Two readings
        -- just inside the quantizable gate (8e12 < VALUE_BOUND) whose
        -- micros sum 1.6e19 exceeds int64 — sum(BIGINT) would
        -- ANSI-kill every micros rollup on Spark while DuckDB silently
        -- widens to HUGEINT; the DECIMAL(38,0) accumulators
        -- (tables.micros128) make both engines sum exactly. One fresh
        -- user (31337) AND one fresh event_type ('ovfl') so the
        -- overflow hits user-keyed (running sum, sessionize batch +
        -- STREAMING state), event_type-keyed (range frame, tumbling/
        -- sliding, salted) AND global (cube grand total) sums; 10 s
        -- apart = same minute/window/session on both engines. The
        -- values are chosen double-exact (8e18 and 1.6e19 are exact
        -- binaries), so every divide-then-round lands identically.
        (9501, TIMESTAMP '2024-01-05 00:00:05', 31337, 'ovfl', 8e12,
         '{{}}'),
        (9502, TIMESTAMP '2024-01-05 00:00:15', 31337, 'ovfl', 8e12,
         '{{}}'),
        -- round-11 time-edge probe: (a) 9503 a FRACTIONAL far-future
        -- timestamp — DuckDB's floor(epoch(ts)) loses the fraction to
        -- double rounding at 2.5e11 s magnitude (off-by-one second,
        -- 253402300800 vs the true floor ...799) while Spark's
        -- cast(ts AS LONG) is exact; epoch-second oracles now use the
        -- exact BIGINT form (tables.epoch_sec_sql). (b) 9504/9505 a
        -- session gap whose FLOOR is exactly 1800 s with increasing
        -- sub-second fraction (raw gap 1800.5): the old raw-epoch()
        -- oracle gap split the session that Spark's floor-second gap
        -- keeps; both sessionizer oracles now use the floor-second
        -- form, matching Spark and the Python t // 1_000_000 path.
        (9503, TIMESTAMP '9999-12-31 23:59:59.999999', 7, 'view', 1.5,
         '{{}}'),
        (9504, TIMESTAMP '2024-02-01 00:00:00.25', 5, 'view', 2.0,
         '{{}}'),
        (9505, TIMESTAMP '2024-02-01 00:30:00.75', 5, 'view', 3.0,
         '{{}}'),
        -- (c) 9506 a PRE-1970 NON-slide-aligned timestamp: DuckDB's //
        -- truncates toward zero, so the old sliding-window bucket index
        -- put this row one window LATE while Spark's window()
        -- floor-aligns; the oracle now floor-divides exactly
        -- (tables.floor_div_sql). Same busy user as the existing
        -- integral 1700 row so the sessionizers see it too.
        (9506, TIMESTAMP '1700-01-01 06:00:00.5', 1, 'click', 0.75,
         '{{}}'),
        -- extreme 64-bit ids (round 6): ids are OPAQUE surrogate keys, so
        -- negative / near-INT64_MAX values are legitimate at scale, not
        -- corrupt — id arithmetic must be overflow-safe and sign-safe BY
        -- EXPRESSION (128-bit products, pmod residues, integer DIV), never
        -- gated. These rows broke 9 queries before the round-6 fixes.
        (-9223372036854775800, TIMESTAMP '2024-01-02 00:00:00',
         -9223372036854775800, 'click', 1.0, '{{}}'),
        (9223372036854775800, TIMESTAMP '2024-01-02 00:00:01',
         9223372036854775800, 'view', 2.0, '{{}}')
      ) AS v(event_id, ts, user_id, event_type, value, props)
      UNION ALL BY NAME
      SELECT 9004 AS event_id, NULL::TIMESTAMP AS ts, u AS user_id,
             et AS event_type, 0.0 AS value, '{{}}' AS props FROM busy
      UNION ALL BY NAME
      SELECT 9006 AS event_id, TIMESTAMP '2024-01-01 00:00:04' AS ts,
             u AS user_id, et AS event_type, NULL::DOUBLE AS value,
             '{{}}' AS props FROM busy
    ) TO '{out}/events.parquet' (FORMAT parquet)
    """)


def _sweep(spark, deg_dir: str) -> dict[str, str]:
    failures: dict[str, str] = {}
    for name, fn in all_queries().items():
        try:
            # FULL materialization (noop write), NOT .count(): count lets
            # Catalyst prune every computed column, so a poisoned
            # expression (NaN→BIGINT cast, 0/0 division, a crashing UDF
            # column) would never evaluate and the sweep would pass
            # vacuously — the noop sink evaluates every output column of
            # every row, exactly like a real downstream consumer
            fn(spark, deg_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — we report, not mask
            failures[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
    return failures


@pytest.mark.slow
@pytest.mark.parametrize("limit", [0, 2], ids=["empty", "two_rows"])
def test_every_query_survives_degenerate_tables(spark, sf_dir, tmp_path, limit):
    deg = str(tmp_path / f"deg{limit}")
    _build_degenerate_dir(deg, sf_dir, limit)
    # sanity: the dir really is degenerate
    assert len(glob.glob(os.path.join(deg, "*.parquet"))) == len(TABLES)

    failures = _sweep(spark, deg)
    assert not failures, (
        f"{len(failures)} queries crash on {limit}-row tables:\n"
        + "\n".join(f"  {k}: {v}" for k, v in sorted(failures.items()))
    )


@pytest.mark.slow
def test_every_oracle_matches_on_hostile_values(spark, sf_dir, tmp_path):
    """Dirty-data PARITY over the ENTIRE oracle registry, not just
    crash-freedom: all 174 oracle-bearing queries must produce the
    identical row multiset as their DuckDB oracle on the hostile fixture.

    Every corrupt-data gate is written twice (DataFrame + SQL), so a
    one-sided edit would silently diverge exactly where the gate matters.
    Divergence classes this sweep has already caught and now keeps fixed:
    the e-IS-NULL clause in finite_sql (DuckDB's list_filter skips NULL
    predicates, Spark's forall is NULL-strict); the ts-IS-NOT-NULL window
    exclusion (Spark's window()/session_window() drop NULL event-times,
    date_trunc oracles kept them); json_valid guards (DuckDB's
    json_extract RAISES on one malformed payload, Spark yields NULL); the
    NULL-strict l2-norm fold (DuckDB's list_sum silently skips a NULL
    component); NaN binning in drift-PSI (Spark floor→long put NaN in bin
    0 SILENTLY while DuckDB died on the cast — one engine wrong, the
    other dead); NULL-text exclusion in counting-rank queries; and the
    CSV \\N null sentinel (a bare round trip merges '' into NULL)."""
    from tests.test_oracle_parity import duck_connection, rows_to_multiset

    from graph_vulcan_assets_spark.registry import all_oracle_sql

    deg = str(tmp_path / "hostile_parity")
    _build_hostile_dir(deg, sf_dir)
    oracle = all_oracle_sql()
    queries = all_queries()
    con = duck_connection(deg)
    bad = []
    for name, sql in oracle.items():
        try:
            sdf = queries[name](spark, deg)
            srows, scols = sdf.collect(), sdf.columns
            res = con.execute(sql)
            drows, dcols = res.fetchall(), [d[0] for d in res.description]
            if not (
                sorted(scols) == sorted(dcols)
                and len(srows) == len(drows)
                and rows_to_multiset([tuple(r) for r in srows], scols)
                == rows_to_multiset(drows, dcols)
            ):
                bad.append(f"{name}: spark={len(srows)} duck={len(drows)}")
        except Exception as e:  # noqa: BLE001 — report every diverging query
            bad.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:120]}")
    con.close()
    assert not bad, "queries diverge from oracle on hostile data:\n" + "\n".join(bad)


@pytest.mark.slow
def test_every_query_survives_hostile_values(spark, sf_dir, tmp_path):
    """NaN/Inf components, NULL vectors/labels/timestamps, zero and
    wrong-dimension vectors, 100 KB unbroken tokens, unicode storms —
    every query must return (possibly fewer rows) rather than crash or
    hang. Pins the round-5 corrupt-data hardening: the embedding gates
    (llm/embeddings.py finite/cosine), the streaming sessionizer's poison
    guards, the media kernel's NULL-payload path, and the BPE pre-token
    length cap."""
    deg = str(tmp_path / "hostile")
    _build_hostile_dir(deg, sf_dir)
    failures = _sweep(spark, deg)
    assert not failures, (
        f"{len(failures)} queries crash on hostile values:\n"
        + "\n".join(f"  {k}: {v}" for k, v in sorted(failures.items()))
    )


def test_kmeans_without_seed_vectors_returns_typed_empty(spark):
    """k-means seeds its centroids from the vectors with ``vec_id < k``; a
    filtered or id-shifted input with none of them must come back as an
    empty (vec_id, cid, d, qarr) frame, not a numpy crash on an empty
    centroid matrix."""
    from graph_vulcan_assets_spark.llm.kmeans import K, lloyd_assign

    vecs = spark.createDataFrame(
        [(K + 100, [1, 2, 3]), (K + 101, [4, 5, 6])],
        "vec_id long, qarr array<bigint>",
    )
    out = lloyd_assign(vecs)
    assert out.columns == ["vec_id", "cid", "d", "qarr"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "bigint", "bigint", "array<bigint>",
    ]
    assert out.collect() == []
