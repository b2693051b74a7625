"""Translate the reference's KSQL dialect onto Spark plans.

Scope: exactly the statement shapes the reference declares (reference:
README.md:27-70) — this is a compatibility shim for its runbook, not a
KSQL parser. Each construct maps Spark-first:

| KSQL construct                         | Spark mapping                     |
|----------------------------------------|-----------------------------------|
| CREATE STREAM s WITH (KAFKA_TOPIC=t)   | bind topic's DataFrame, temp view |
| TIMESTAMP='col' property               | event-time column designation     |
| CREATE STREAM d AS SELECT ... PARTITION BY k | record key (no shuffle) |
| CREATE TABLE t WITH (KAFKA_TOPIC=...)  | latest-per-key compaction (A6)    |
| CSAS/CTAS SELECT ...                   | translated Spark SQL              |
| WINDOW HOPPING (SIZE a, ADVANCE BY b)  | GROUP BY window(ts, 'a', 'b')     |
| WINDOW TUMBLING (SIZE a)               | GROUP BY window(ts, 'a')          |
| WINDOW SESSION (gap)                   | GROUP BY session_window(ts, gap)  |
| WINDOWSTART / WINDOWEND                | unix_millis(window.start / .end)  |
| ROWTIME pseudo-column                  | unix_millis(event-time col)       |
| UCASE/LCASE/STRINGTOTIMESTAMP/MASK     | SQL UDFs → pure Catalyst exprs    |
| ARRAYCONTAINS / COUNT_DISTINCT         | array_contains / count(distinct)  |
| LATEST_BY_OFFSET / EARLIEST_BY_OFFSET  | max_by / min_by on event time     |
| TOPK(x, k) / TOPKDISTINCT(x, k)        | slice(sort_array(collect_list/set)) |
| HISTOGRAM(x)                           | sorted map_from_entries counts    |
| LEN / IFNULL                           | Spark's native len / ifnull       |
| EXTRACTJSONFIELD(j, p)                 | SQL UDF → get_json_object         |
| STRINGTODATE / DATETOSTRING            | SQL UDFs ↔ days-since-epoch INT   |
| GEO_DISTANCE(lat1, lon1, lat2, lon2)   | SQL UDF → haversine (km)          |
| GRACE PERIOD n U                       | statement-scoped withWatermark    |
| INSERT INTO s SELECT ...               | relation := unionByName append    |
| SHOW STREAMS/TABLES, DESCRIBE r        | registered-relation introspection |
| SHOW QUERIES                           | persistent-query registry listing |
| TERMINATE q / TERMINATE ALL            | retire persistent query id(s)     |
| DROP STREAM/TABLE [IF EXISTS] r        | deregister + drop temp view       |
| EXPLAIN q / EXPLAIN SELECT ...         | Spark formatted physical plan     |
| PRINT 'topic' [LIMIT n]                | bounded raw-record JSON tail      |
| t.rowkey pseudo-column                 | t's recorded key column           |
| TIMESTAMPTOSTRING(ms, fmt)             | SQL UDF → date_format(timestamp_millis) |
| as_array(...)                          | array(...)                        |
| predict('model', strs, ints)           | session SQL function: one CASE over the array elements (U2) |
| SELECT ... EMIT CHANGES                | batch snapshot / streaming drain  |

predict() is deliberately NOT a row-wise Python UDF: it is a scalar SQL
function like the other KSQL builtins. ``predict('<model>', ...`` is
rewritten to the name of a session temporary function whose body is the
model compiled into one SQL expression over the array elements, so every
statement is one ``spark.sql`` and predict() resolves in any clause, any
number of times (SURVEY.md U2) — the reference's per-row LeapFrame
(PredictUdf.java:55-58) simulated exactly one row at a time what that
expression does in one vectorized pass.

Batch/stream duality: topics may be bound to *streaming* DataFrames (file
replay or Kafka). The same translated plans then come out unbounded —
``CREATE TABLE``'s ``latest_per_key`` becomes a stateful ``max_by``
changelog, CSAS registers the continuous relation for downstream
statements to compose against (exactly how KSQL chains persistent queries
through topics), and a top-level ``SELECT ... EMIT CHANGES`` over a streaming
relation is the push query: it drains the plan through a memory sink
(complete mode for aggregating plans — KSQL's every-refinement changelog —
append otherwise) and returns the materialized table.
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml import predict as ml_predict
from ..operators.dedup import latest_per_key
from ..streaming import sinks as stream_sinks

__all__ = ["KsqlCompat"]

_PUSH_SEQ = itertools.count()


def _plan_has_node(jplan, names: set[str]) -> bool:
    """True if the analyzed logical plan contains a node whose nodeName
    is in ``names`` — a real tree walk over the JVM plan (children are a
    Scala Seq), immune to string-render false positives."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        if node.nodeName() in names:
            return True
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return False

_UNIT = {
    "SECOND": "second", "SECONDS": "seconds",
    "MINUTE": "minute", "MINUTES": "minutes",
    "HOUR": "hour", "HOURS": "hours",
    "DAY": "day", "DAYS": "days",
}


@dataclass
class _Relation:
    name: str
    df: DataFrame
    ts_col: str | None = None  # designated event-time column (TIMESTAMP=...)
    key: str | None = None  # record key column (PARTITION BY / KEY=...)


@dataclass
class _PersistentQuery:
    """A CSAS/CTAS/INSERT INTO registration — ksqlDB's persistent query.
    The lifecycle statements (SHOW QUERIES / TERMINATE / DROP) operate on
    this registry exactly as on a server: a relation cannot be dropped
    while a RUNNING query writes to or reads from it."""

    query_id: str
    kind: str  # CSAS | CTAS | INSERT
    sink: str  # relation the query writes
    sources: tuple[str, ...]  # relations the query reads
    statement: str
    state: str = "RUNNING"


@dataclass
class KsqlCompat:
    """Statement executor bound to a set of named topics.

    ``topics`` maps topic name → (DataFrame, event-time column). Derived
    streams register their output "topic" under their own (upper-cased)
    name, so a downstream ``CREATE TABLE ... WITH (KAFKA_TOPIC =
    'USERS_STREAM_REKEY')`` resolves the way it does on a broker.
    """

    spark: SparkSession
    topics: dict[str, tuple[DataFrame, str | None]]
    models_dir: str | None = None
    relations: dict[str, _Relation] = field(default_factory=dict)
    queries: dict[str, _PersistentQuery] = field(default_factory=dict)
    _query_seq: "itertools.count" = field(default_factory=itertools.count)

    def __post_init__(self) -> None:
        # KSQL scalar builtins as SQL-defined functions: pure Catalyst
        # expressions (no Python), registered once per session. UCASE /
        # LCASE need nothing (Spark ships them as upper/lower aliases) and
        # MASK is handled by a rewrite onto Spark's parameterized mask()
        # (KSQL's default masking is upper→X, lower→x, digit→n, other→-).
        # GEO_DISTANCE is the last of the six, so a session that resolves
        # it has them all: one catalog lookup instead of six statements.
        if self.spark.catalog.functionExists("GEO_DISTANCE"):
            return
        for ddl in (
            "TIMESTAMPTOSTRING(ms BIGINT, fmt STRING) RETURNS STRING "
            "RETURN date_format(timestamp_millis(ms), fmt)",
            "STRINGTOTIMESTAMP(s STRING, fmt STRING) RETURNS BIGINT "
            "RETURN unix_millis(to_timestamp(s, fmt))",
            # KSQL DATE scalars carry days-since-epoch integers
            "STRINGTODATE(s STRING, fmt STRING) RETURNS INT "
            "RETURN datediff(to_date(s, fmt), DATE'1970-01-01')",
            "DATETOSTRING(d INT, fmt STRING) RETURNS STRING "
            "RETURN date_format(date_add(DATE'1970-01-01', d), fmt)",
            # LEN and IFNULL need nothing: Spark ships len()/ifnull()
            "EXTRACTJSONFIELD(j STRING, p STRING) RETURNS STRING "
            "RETURN get_json_object(j, p)",
            # great-circle distance, km (KSQL geo_distance default unit)
            "GEO_DISTANCE(lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE) "
            "RETURNS DOUBLE RETURN 6371.0 * 2 * asin(sqrt("
            "pow(sin(radians(lat2 - lat1) / 2), 2) + cos(radians(lat1)) * "
            "cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2)))",
        ):
            self.spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {ddl}")

    # ------------------------------------------------------------------
    # public API
    # ------------------------------------------------------------------

    def execute(self, statement: str) -> DataFrame | None:
        """Execute one KSQL statement; returns a DataFrame for queries and
        for CREATE ... AS SELECT (the created relation), None for DDL."""
        stmt = statement.strip().rstrip(";").strip()
        flat = re.sub(r"\s+", " ", stmt)

        m = re.match(
            r"CREATE (STREAM|TABLE) (\w+) WITH \((.*)\)$", flat, re.IGNORECASE
        )
        if m:
            return self._create_bound(m.group(1).upper(), m.group(2), m.group(3))

        m = re.match(
            r"CREATE (STREAM|TABLE) (\w+) AS (SELECT .*)$",
            flat,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return self._create_as_select(m.group(1).upper(), m.group(2), m.group(3))

        if re.match(r"SELECT ", flat, re.IGNORECASE):
            return self._run_select(flat)

        m = re.match(
            r"INSERT INTO (\w+) (SELECT .*)$", flat, re.IGNORECASE | re.DOTALL
        )
        if m:
            return self._insert_into(m.group(1), m.group(2))

        # LIST is ksqlDB's synonym for SHOW (both spellings are live CLI
        # vocabulary)
        m = re.match(r"(?:SHOW|LIST) (STREAMS|TABLES)$", flat, re.IGNORECASE)
        if m:
            return self._show(m.group(1).upper())

        if re.match(r"(?:SHOW|LIST) QUERIES$", flat, re.IGNORECASE):
            return self._show_queries()

        m = re.match(r"DESCRIBE (\w+)$", flat, re.IGNORECASE)
        if m:
            return self._describe(m.group(1))

        m = re.match(r"TERMINATE (ALL|\w+)$", flat, re.IGNORECASE)
        if m:
            return self._terminate(m.group(1))

        m = re.match(r"EXPLAIN (.+)$", flat, re.IGNORECASE | re.DOTALL)
        if m:
            return self._explain(m.group(1))

        m = re.match(
            r"PRINT '?([\w.\-]+)'?(?: FROM BEGINNING)?(?: LIMIT (\d+))?$",
            flat,
            re.IGNORECASE,
        )
        if m:
            return self._print_topic(m.group(1), int(m.group(2) or 20))

        m = re.match(
            r"DROP (STREAM|TABLE)( IF EXISTS)? (\w+)( DELETE TOPIC)?$",
            flat,
            re.IGNORECASE,
        )
        if m:
            return self._drop(
                m.group(1).upper(), m.group(3), if_exists=bool(m.group(2))
            )

        raise ValueError(f"unsupported statement shape: {flat[:80]}...")

    # ------------------------------------------------------------------
    # persistent-query lifecycle (ksqlDB's operational statements — the
    # ones a user types right after the reference's runbook: list what
    # runs, retire a query, drop its relation)
    # ------------------------------------------------------------------

    def _select_sources(self, select: str) -> tuple[str, ...]:
        """Registered relations a SELECT reads (FROM/JOIN targets)."""
        names = re.findall(r"\b(?:FROM|JOIN)\s+(\w+)", select, re.IGNORECASE)
        return tuple(
            dict.fromkeys(n.lower() for n in names if n.lower() in self.relations)
        )

    def _register_query(
        self, kind: str, sink: str, sources: tuple[str, ...], statement: str
    ) -> _PersistentQuery:
        qid = f"{kind}_{sink.upper()}_{next(self._query_seq)}"
        q = _PersistentQuery(qid, kind, sink.lower(), sources, statement)
        self.queries[qid] = q
        return q

    def _show_queries(self) -> DataFrame:
        """SHOW QUERIES: one row per persistent query, matching ksqlDB's
        listing shape (id, type, state, sink, statement)."""
        rows = [
            (q.query_id, q.kind, q.state, q.sink.upper(), q.statement)
            for q in self.queries.values()
        ]
        return self.spark.createDataFrame(
            rows,
            "query_id string, query_type string, state string, "
            "sink string, statement string",
        )

    def _print_topic(self, topic: str, limit: int) -> DataFrame:
        """PRINT 'topic' [FROM BEGINNING] [LIMIT n]: ksqlDB's raw topic
        inspection — each record rendered as its JSON value (the CLI's
        view of an Avro/JSON topic after deserialization), bounded by
        ``limit`` (default 20, like an interrupted CLI tail)."""
        df, _ts, _key = self._resolve_topic(topic)
        if df.isStreaming:
            raise ValueError(
                f"PRINT {topic!r}: bind a bounded replay to inspect a "
                "continuous topic"
            )
        return df.limit(limit).select(
            F.lit(topic).alias("topic"),
            F.to_json(F.struct(*df.columns)).alias("value"),
        )

    def _explain(self, target: str) -> DataFrame:
        """EXPLAIN <query_id> / EXPLAIN <select...>: ksqlDB's plan
        introspection, answered with Spark's formatted physical plan —
        for a persistent query id, the plan of its sink relation; for an
        inline SELECT, the plan of the translated statement."""
        q = self.queries.get(target.strip().upper())
        if q is not None:
            df = self.relations[q.sink].df
            label = q.query_id
        elif re.match(r"SELECT ", target.strip(), re.IGNORECASE):
            df, _ = self._translate_select(target.strip())
            label = "QUERY"
        else:
            raise KeyError(f"unknown query {target!r}")
        plan = self.spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return self.spark.createDataFrame(
            [(label, plan)], "query_id string, plan string"
        )

    def _terminate(self, target: str) -> None:
        """TERMINATE <query_id> / TERMINATE ALL: retire persistent
        queries. The sink relation stays materialized (its last state),
        exactly as on a server — DROP removes it."""
        if target.upper() == "ALL":
            for q in self.queries.values():
                q.state = "TERMINATED"
            return None
        q = self.queries.get(target.upper())
        if q is None:
            raise KeyError(f"unknown query {target!r}")
        q.state = "TERMINATED"
        return None

    def _drop(self, kind: str, name: str, *, if_exists: bool) -> None:
        """DROP STREAM/TABLE [IF EXISTS] <name>: deregister the relation
        and its temp view. Refused while a RUNNING persistent query
        writes to or reads from it (ksqlDB's drop guard) — TERMINATE
        first."""
        rel = self.relations.get(name.lower())
        if rel is None:
            if if_exists:
                return None
            raise KeyError(f"unknown relation {name!r}")
        blockers = [
            q.query_id
            for q in self.queries.values()
            if q.state == "RUNNING"
            and (q.sink == name.lower() or name.lower() in q.sources)
        ]
        if blockers:
            raise ValueError(
                f"cannot drop {name}: used by running queries "
                f"{blockers} — TERMINATE them first"
            )
        del self.relations[name.lower()]
        self.spark.catalog.dropTempView(name.lower())
        return None

    def _insert_into(self, name: str, select: str) -> DataFrame:
        """INSERT INTO <stream> SELECT ...: append the query's rows to an
        existing relation — KSQL's way of merging several sources into one
        stream. The relation is re-registered as the by-name union (schema
        must project onto the target's columns); batch/stream duality
        holds, since unionByName composes unbounded frames too."""
        rel = self.relations.get(name.lower())
        if rel is None:
            raise KeyError(f"unknown relation {name!r}")
        self._register_query(
            "INSERT", rel.name, self._select_sources(select),
            f"INSERT INTO {name} {select}",
        )
        df, _src = self._translate_select(select)
        merged = rel.df.unionByName(df.select(*rel.df.columns))
        self._register(_Relation(rel.name, merged, rel.ts_col, rel.key))
        return merged

    def _show(self, kind: str) -> DataFrame:
        """SHOW STREAMS / SHOW TABLES: one row per registered relation —
        a TABLE is a keyed latest-per-key materialization, a STREAM is
        everything else (the engine's batch/stream duality means both may
        be continuous)."""
        rows = [
            (
                rel.name.upper(),
                rel.key,
                rel.ts_col,
                bool(rel.df.isStreaming),
            )
            for rel in self.relations.values()
        ]
        return self.spark.createDataFrame(
            rows, "name string, key string, timestamp_col string, is_streaming boolean"
        )

    def _describe(self, name: str) -> DataFrame:
        """DESCRIBE <relation>: one row per column (name, type), matching
        the shape of ksqlDB's field listing."""
        rel = self.relations.get(name.lower())
        if rel is None:
            raise KeyError(f"unknown relation {name!r}")
        return self.spark.createDataFrame(
            [(f.name, f.dataType.simpleString()) for f in rel.df.schema.fields],
            "field string, type string",
        )

    # ------------------------------------------------------------------
    # DDL over topics
    # ------------------------------------------------------------------

    def _props(self, props: str) -> dict[str, str]:
        return {
            k.strip().upper(): v
            for k, v in re.findall(r"(\w+)\s*=\s*'([^']*)'", props)
        }

    def _resolve_topic(self, topic: str) -> tuple[DataFrame, str | None, str | None]:
        """A topic is either a bound input topic or the output of a derived
        relation (CSAS materializes its result under its own name)."""
        if topic in self.topics:
            df, ts = self.topics[topic]
            return df, ts, None
        rel = self.relations.get(topic.lower())
        if rel is not None:
            return rel.df, rel.ts_col, rel.key
        raise KeyError(f"unknown topic {topic!r}")

    def _create_bound(self, kind: str, name: str, props_s: str) -> None:
        props = self._props(props_s)
        df, default_ts, derived_key = self._resolve_topic(props["KAFKA_TOPIC"])
        ts_col = props.get("TIMESTAMP", default_ts)
        key = props.get("KEY", derived_key)
        if kind == "TABLE":
            # KSQL TABLE over a changelog topic: latest value per key
            # (reference: README.md:29). Ordering column = the designated
            # event time (the batch analog of topic offset order).
            if key is None or ts_col is None:
                raise ValueError(
                    f"TABLE {name}: need KEY/PARTITION BY and an event-time "
                    "column to materialize latest-per-key"
                )
            # one operator for both: on a stream its max_by keeps one
            # struct per key in the state store (a changelog)
            df = latest_per_key(df, key, ts_col)
        self._register(_Relation(name.lower(), df, ts_col, key))

    def _register(self, rel: _Relation) -> None:
        self.relations[rel.name] = rel
        rel.df.createOrReplaceTempView(rel.name)

    # ------------------------------------------------------------------
    # CSAS / CTAS
    # ------------------------------------------------------------------

    def _create_as_select(self, kind: str, name: str, select: str) -> DataFrame:
        self._register_query(
            "CSAS" if kind == "STREAM" else "CTAS",
            name,
            self._select_sources(select),
            f"CREATE {kind} {name} AS {select}",
        )
        key = None
        m = re.search(r"\s+PARTITION BY (\w+)$", select, re.IGNORECASE)
        if m:
            # Rekey (reference: README.md:28): record-key rewrite. The
            # physical co-partitioning KSQL needs is a no-op for Spark
            # (shuffles happen on demand, and TABLE compaction groups by
            # the key anyway); the key is recorded for downstream
            # `rowkey` references.
            key = m.group(1)
            select = select[: m.start()]
        df, src = self._translate_select(select)
        ts_col = src.ts_col if src is not None else None
        self._register(_Relation(name.lower(), df, ts_col, key or (src.key if src else None)))
        return df

    def _run_select(self, select: str) -> DataFrame:
        df, _ = self._translate_select(select)
        if df.isStreaming:
            # Push query (EMIT CHANGES over a continuous relation): drain
            # the plan through a memory sink. Aggregating plans run in
            # complete mode — the full changelog table, KSQL's
            # every-refinement semantics; pure row-wise/join plans append.
            # Mode is decided by walking the analyzed plan for genuine
            # Aggregate nodes (ADVICE r4: a substring match on the plan's
            # string render misfires on aliases containing 'Aggregate',
            # dedup plans, or renderer changes).
            mode = (
                "complete"
                if _plan_has_node(
                    df._jdf.queryExecution().analyzed(), {"Aggregate"}
                )
                else "append"
            )
            return stream_sinks.run_to_memory(
                df, f"ksql_push_{next(_PUSH_SEQ)}", output_mode=mode
            )
        return df

    # ------------------------------------------------------------------
    # SELECT translation
    # ------------------------------------------------------------------

    def _translate_select(self, select: str) -> tuple[DataFrame, _Relation | None]:
        sql = re.sub(r"\s+EMIT CHANGES\s*$", "", select, flags=re.IGNORECASE)
        restore_view: _Relation | None = None

        # source relation (for rowtime/window translation)
        m = re.search(r"\bFROM (\w+)", sql, re.IGNORECASE)
        src = self.relations.get(m.group(1).lower()) if m else None

        # rowkey pseudo-columns: t.rowkey → t.<key>
        def sub_rowkey(mm: re.Match) -> str:
            rel = self.relations.get(mm.group(1).lower())
            if rel is None or rel.key is None:
                raise ValueError(f"{mm.group(0)}: relation has no key")
            return f"{mm.group(1)}.{rel.key}"

        sql = re.sub(r"(\w+)\.rowkey", sub_rowkey, sql, flags=re.IGNORECASE)

        # ROWTIME pseudo-column → epoch millis of the event-time column
        # (reference: README.md:43-44; KSQL ROWTIME is BIGINT epoch-ms)
        def sub_rowtime(mm: re.Match) -> str:
            qual = mm.group(1)
            rel = self.relations.get(qual.lower()) if qual else src
            if rel is None or rel.ts_col is None:
                raise ValueError("ROWTIME used but no event-time column designated")
            return f"unix_millis({rel.ts_col})"

        sql = re.sub(r"(?:(\w+)\.)?rowtime\b", sub_rowtime, sql, flags=re.IGNORECASE)

        # WINDOW HOPPING/TUMBLING/SESSION + GROUP BY keys
        #   → GROUP BY window(ts, ...) / session_window(ts, gap), keys
        # (SURVEY.md W1/§2.9; KSQL window clause syntax is public docs)
        m = re.search(
            r"\s*WINDOW (HOPPING|TUMBLING|SESSION)\s*\(([^)]*)\)\s*",
            sql,
            re.IGNORECASE,
        )
        if m:
            if src is None or src.ts_col is None:
                raise ValueError(f"WINDOW {m.group(1)} needs a source event-time column")
            kind, body = m.group(1).upper(), m.group(2)

            def dur(pat: str) -> str:
                dm = re.search(pat, body, re.IGNORECASE)
                if dm is None:
                    raise ValueError(f"WINDOW {kind}: cannot parse ({body})")
                return f"{dm.group(1)} {_UNIT[dm.group(2).upper()]}"

            # GRACE PERIOD = how long to admit late events before a
            # window finalizes — KSQL's spelling of the watermark delay.
            # On a streaming source it becomes withWatermark; on a batch
            # snapshot every event is "on time" and it is a no-op.
            gm = re.search(r"GRACE PERIOD (\d+) (\w+)", body, re.IGNORECASE)
            grace = (
                f"{gm.group(1)} {_UNIT[gm.group(2).upper()]}" if gm else None
            )
            if kind == "HOPPING":
                size = dur(r"SIZE (\d+) (\w+)")
                slide = dur(r"ADVANCE BY (\d+) (\w+)")
                win, win_col = f"window({src.ts_col}, '{size}', '{slide}')", "window"
            elif kind == "TUMBLING":
                size = dur(r"SIZE (\d+) (\w+)")
                win, win_col = f"window({src.ts_col}, '{size}')", "window"
            else:  # SESSION (gap has no SIZE keyword)
                gap = dur(r"(?:SIZE )?(\d+) (\w+)")
                win, win_col = (
                    f"session_window({src.ts_col}, '{gap}')",
                    "session_window",
                )
            if grace is not None and src.df.isStreaming:
                # swap the source view for its watermarked form for THIS
                # statement only; restored after analysis (spark.sql
                # resolves views eagerly, so later statements see the
                # original ungated relation again — see finally below)
                restore_view = src
                src.df.withWatermark(src.ts_col, grace).createOrReplaceTempView(
                    src.name
                )
            sql = sql[: m.start()] + " " + sql[m.end():]
            sql = re.sub(
                r"GROUP BY (.+)$", rf"GROUP BY {win}, \1", sql, flags=re.IGNORECASE
            )
            # WINDOWSTART/WINDOWEND pseudo-columns (KSQL: BIGINT epoch-ms
            # bounds of the enclosing window)
            sql = re.sub(
                r"\bWINDOWSTART\b",
                f"unix_millis({win_col}.start)",
                sql,
                flags=re.IGNORECASE,
            )
            sql = re.sub(
                r"\bWINDOWEND\b",
                f"unix_millis({win_col}.end)",
                sql,
                flags=re.IGNORECASE,
            )

        # builtins
        sql = re.sub(r"\bas_array\s*\(", "array(", sql, flags=re.IGNORECASE)
        sql = re.sub(
            r"\bARRAYCONTAINS\s*\(", "array_contains(", sql, flags=re.IGNORECASE
        )
        sql = re.sub(
            r"\bCOUNT_DISTINCT\s*\(", "count(DISTINCT ", sql, flags=re.IGNORECASE
        )
        # KSQL MASK defaults (upper→X, lower→x, digit→n, other→-) onto
        # Spark's parameterized built-in
        sql = re.sub(
            r"\bMASK\s*\(([^()]+)\)",
            r"mask(\1, 'X', 'x', 'n', '-')",
            sql,
            flags=re.IGNORECASE,
        )
        # offset-ordered aggregates: the batch/stream analog of "latest by
        # Kafka offset" is max_by on the designated event time (the same
        # order TABLE compaction uses)
        if re.search(r"\b(LATEST|EARLIEST)_BY_OFFSET\s*\(", sql, re.IGNORECASE):
            if src is None or src.ts_col is None:
                raise ValueError("LATEST_BY_OFFSET needs an event-time column")
            sql = re.sub(
                r"\bLATEST_BY_OFFSET\s*\(([^()]+)\)",
                rf"max_by(\1, unix_millis({src.ts_col}))",
                sql,
                flags=re.IGNORECASE,
            )
            sql = re.sub(
                r"\bEARLIEST_BY_OFFSET\s*\(([^()]+)\)",
                rf"min_by(\1, unix_millis({src.ts_col}))",
                sql,
                flags=re.IGNORECASE,
            )
        # TOPKDISTINCT before TOPK (the latter's pattern would otherwise
        # match the TOPK prefix of the former)
        sql = re.sub(
            r"\bTOPKDISTINCT\s*\(([^(),]+),\s*(\d+)\s*\)",
            r"slice(sort_array(collect_set(\1), false), 1, \2)",
            sql,
            flags=re.IGNORECASE,
        )
        # TOPK(x, k) → k largest values as an array
        sql = re.sub(
            r"\bTOPK\s*\(([^(),]+),\s*(\d+)\s*\)",
            r"slice(sort_array(collect_list(\1), false), 1, \2)",
            sql,
            flags=re.IGNORECASE,
        )
        # HISTOGRAM(x) → MAP<value, count> (KSQL's value-frequency UDAF),
        # keys in sorted order for determinism
        sql = re.sub(
            r"\bHISTOGRAM\s*\(([^()]+)\)",
            r"map_from_entries(transform("
            r"array_sort(array_distinct(collect_list(\1))), "
            r"v -> struct(v, CAST(size(filter(collect_list(\1), "
            r"y -> y = v)) AS BIGINT))))",
            sql,
            flags=re.IGNORECASE,
        )

        # predict('<model>', strs, ints) → that model's session SQL function,
        # registered again by every statement that calls it
        def sub_predict(mm: re.Match) -> str:
            fn = ml_predict.register_sql_function(
                self.spark, mm.group(1), self.models_dir
            )
            return f"{fn}("

        try:
            sql = re.sub(
                r"\bpredict\s*\(\s*'([^']*)'\s*,", sub_predict, sql,
                flags=re.IGNORECASE,
            )
            return self.spark.sql(sql), src
        finally:
            if restore_view is not None:
                restore_view.df.createOrReplaceTempView(restore_view.name)
