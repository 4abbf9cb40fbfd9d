"""EVE-JSON source: the Spark translation of fever's JSON parse + projection
(S4, /root/reference/util/util.go:28-55,67-285).

Fever parses exactly 26 JSON paths per event into a flat Entry struct and
keeps the raw line. Here the same projection is ONE ``from_json`` with a
schema covering ONLY those paths (or, via ``columns=``, only the paths a
job actually reads), materialized as a struct in its own projection so
the physical plan parses each line exactly once — the JVM-side parser
does the same "touch the needed keys, skip the rest" work
jsonparser.EachKey does in Go. Relying on Catalyst's
JsonExpressionOptimization to prune per-column references instead
rewrites the plan into one pruned parse PER COLUMN (measured: 25
from_json calls, ~4.5x the wall for the full projection). The raw line
is retained as ``json_line`` (types/entry.go JSONLine analog).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Suricata timestamp format (types/eve.go:13): 2006-01-02T15:04:05.999999-0700
SURICATA_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSZ"
SURICATA_TS_FMT_NOZONE = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

# the 26 projected paths of util/util.go:28-55
EVE_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("src_ip", T.StringType()),
    T.StructField("src_port", T.LongType()),
    T.StructField("dest_ip", T.StringType()),
    T.StructField("dest_port", T.LongType()),
    T.StructField("timestamp", T.StringType()),
    T.StructField("proto", T.StringType()),
    T.StructField("flow_id", T.StringType()),  # int64-as-string, eve.go:292-306
    T.StructField("in_iface", T.StringType()),
    T.StructField("app_proto", T.StringType()),
    T.StructField("flow", T.StructType([
        T.StructField("bytes_toclient", T.LongType()),
        T.StructField("bytes_toserver", T.LongType()),
        T.StructField("pkts_toclient", T.LongType()),
        T.StructField("pkts_toserver", T.LongType()),
    ])),
    T.StructField("http", T.StructType([
        T.StructField("hostname", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("http_method", T.StringType()),
    ])),
    T.StructField("dns", T.StructType([
        T.StructField("rrname", T.StringType()),
        T.StructField("rcode", T.StringType()),
        T.StructField("rdata", T.StringType()),
        T.StructField("rrtype", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("answers", T.ArrayType(T.StructType([
            T.StructField("rrname", T.StringType()),
            T.StructField("rrtype", T.StringType()),
            T.StructField("rdata", T.StringType()),
        ]))),
    ])),
    T.StructField("tls", T.StructType([
        T.StructField("sni", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
    ])),
    T.StructField("alert", T.StructType([
        T.StructField("action", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("signature", T.StringType()),
    ])),
])


# output column name → JSON path into EVE_SCHEMA. ``ts`` is the parsed
# Suricata timestamp; everything else materializes the path verbatim.
_EVE_PATHS: dict[str, tuple[str, ...]] = {
    "event_type": ("event_type",),
    "src_ip": ("src_ip",),
    "src_port": ("src_port",),
    "dest_ip": ("dest_ip",),
    "dest_port": ("dest_port",),
    "ts": ("timestamp",),
    "timestamp_raw": ("timestamp",),
    "proto": ("proto",),
    "flow_id": ("flow_id",),
    "app_proto": ("app_proto",),
    "bytes_toclient": ("flow", "bytes_toclient"),
    "bytes_toserver": ("flow", "bytes_toserver"),
    "pkts_toclient": ("flow", "pkts_toclient"),
    "pkts_toserver": ("flow", "pkts_toserver"),
    "http_host": ("http", "hostname"),
    "http_url": ("http", "url"),
    "http_method": ("http", "http_method"),
    "dns_rrname": ("dns", "rrname"),
    "dns_rcode": ("dns", "rcode"),
    "dns_rdata": ("dns", "rdata"),
    "dns_rrtype": ("dns", "rrtype"),
    "dns_type": ("dns", "type"),
    "dns_answers": ("dns", "answers"),
    "tls_sni": ("tls", "sni"),
    "tls_fingerprint": ("tls", "fingerprint"),
}

# the full default projection, in the column order parse_eve has always
# produced (json_line first — the types/entry.go JSONLine analog)
EVE_COLUMNS = ["json_line"] + list(_EVE_PATHS)


def _pruned_schema(names: list[str]) -> T.StructType:
    """The minimal sub-schema of EVE_SCHEMA covering ``names``: top-level
    fields appear only if referenced, struct fields keep only the
    referenced subfields — so from_json materializes nothing a consumer
    never reads (fever's touch-26-keys-skip-the-rest discipline, scoped
    further down to the job's actual reads)."""
    need: dict[str, set[str] | None] = {}
    for n in names:
        path = _EVE_PATHS[n]
        if len(path) == 1:
            need[path[0]] = None
        else:
            sub = need.setdefault(path[0], set())
            if sub is not None:
                sub.add(path[1])
    fields = []
    for f in EVE_SCHEMA.fields:
        sub = need.get(f.name, "absent")
        if sub == "absent":
            continue
        if sub is None or not isinstance(f.dataType, T.StructType):
            fields.append(f)
        else:
            fields.append(T.StructField(f.name, T.StructType(
                [sf for sf in f.dataType.fields if sf.name in sub])))
    return T.StructType(fields)


def eve_projection(json_col: str = "value",
                   columns: list[str] | None = None
                   ) -> tuple[list[Column], list[Column]]:
    """Build-ONCE Column lists for the EVE projection: ``(staged, out)``
    such that ``df.select(*staged).select(*out)`` is exactly
    ``parse_eve(df, json_col, columns)``.

    Column objects are plan-independent expression trees — reusable
    across any number of DataFrames on the same SparkContext — so a
    per-trigger caller (the run_pipeline daemon) builds these once per
    run instead of paying the ~40 py4j expression constructions plus the
    schema conversion on every micro-batch."""
    cols = list(columns) if columns is not None else EVE_COLUMNS
    unknown = [c for c in cols if c != "json_line" and c not in _EVE_PATHS]
    if unknown:
        raise ValueError(f"unknown EVE columns {unknown}; "
                         f"choose from {EVE_COLUMNS}")
    parsed_names = [c for c in cols if c != "json_line"]
    schema = _pruned_schema(parsed_names)
    # ONE from_json materialized as a struct column in its own projection,
    # THEN the flat field extraction: CollapseProject refuses to inline an
    # expensive expression into multiple consumers, so the physical plan
    # parses each line exactly once. Referencing the from_json expression
    # directly per output column instead lets the optimizer rewrite it
    # into one pruned parse PER COLUMN — measured 25 from_json calls and
    # ~4x the wall for the full projection at 400k events.
    staged = [F.col(json_col),
              F.from_json(F.col(json_col), schema).alias("_e")]
    out = []
    for c in cols:
        if c == "json_line":
            out.append(F.col(json_col).alias("json_line"))
            continue
        expr = F.col("_e")
        for p in _EVE_PATHS[c]:
            expr = expr.getField(p)
        if c == "ts":
            expr = parse_suricata_ts(expr)
        out.append(expr.alias(c))
    return staged, out


def parse_eve(df: DataFrame, json_col: str = "value",
              columns: list[str] | None = None) -> DataFrame:
    """JSON lines → flat Entry-shaped columns + retained raw line.
    Unparseable lines yield null fields (fever logs-and-skips,
    input/input_socket.go:94-101) — filter on event_type.isNotNull() to
    drop them.

    ``columns`` selects a SUBSET of EVE_COLUMNS (order preserved as
    given): the from_json schema is pruned to exactly the referenced
    paths, so unrequested fields are never materialized — at 1M events
    the daemon's 10-column parse is roughly half the wall of the full
    26-path one. ``json_line`` is included only if listed."""
    staged, out = eve_projection(json_col, columns)
    return df.select(*staged).select(*out)


def parse_suricata_ts(col: Column) -> Column:
    """F6: Suricata-format parse with zone-less fallback
    (types/eve.go:27-39, util/alertifier.go:126-137)."""
    return F.coalesce(F.try_to_timestamp(col, F.lit(SURICATA_TS_FMT)),
                      F.try_to_timestamp(col, F.lit(SURICATA_TS_FMT_NOZONE)))


def format_suricata_ts(col: Column) -> Column:
    """F6 reverse: timestamp → Suricata string (UTC, +0000 offset).

    date_format renders in the SESSION timezone; the to_utc_timestamp shift
    by current_timezone() cancels that, so the wall time printed is always
    UTC and the literal +0000 label is truthful even when the session was
    not created via get_spark (which pins spark.sql.session.timeZone=UTC).
    """
    return F.concat(
        F.date_format(F.to_utc_timestamp(col, F.current_timezone()),
                      "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
        F.lit("+0000"))


def make_alert_json(df: DataFrame, ioc: Column, signature: Column,
                    added_fields: dict[str, str] | None = None) -> DataFrame:
    """F4: fever's MakeAlert JSON rewrite (util/alertifier.go:86-168) as
    column ops: clone the raw line, set event_type='alert', attach the alert
    subobject + _extra.bloom-ioc, preserve the original event time as
    timestamp_event, stamp now() as timestamp, append added fields (F10)."""
    alert_obj = F.to_json(F.struct(
        F.lit("allowed").alias("action"),
        F.lit("Potentially Bad Traffic").alias("category"),
        signature.alias("signature"),
        ioc.alias("ioc")))
    extra_obj = F.to_json(F.struct(ioc.alias("bloom-ioc")))
    # brace-splice like the reference's precompiled added-fields tail
    # (util/add_fields_preprocess.go:13-36): strip the trailing '}', append
    # the alert fields. Later duplicate keys win in JSON parsers (incl.
    # from_json and Python json), matching jsonparser.Set overwrite
    # semantics without reshaping untouched fields.
    tail_parts = [
        F.lit(',"event_type":"alert","alert":'), alert_obj,
        F.lit(',"_extra":'), extra_obj,
        # Suricata timestamps contain no JSON-escapable characters; quote
        # directly (EscapeJSON analog, util/util.go:58-64)
        F.lit(',"timestamp_event":"'), F.coalesce(F.col("timestamp_raw"),
                                                  F.lit("")), F.lit('"'),
        F.lit(',"timestamp":"'), format_suricata_ts(F.current_timestamp()),
        F.lit('"'),
    ]
    for k, v in (added_fields or {}).items():
        tail_parts += [F.lit(f',"{k}":"{v}"')]
    tail_parts += [F.lit("}")]
    body = F.regexp_replace(F.col("json_line"), r"\}\s*$", "")
    return df.withColumn("alert_json", F.concat(body, *tail_parts))


def trigram_search_string(df: DataFrame) -> Column:
    """F14: the per-event-type searchable-text CASE of the reference's
    Postgres trigram index (db/sql.go:7-42) — concatenate the type-relevant
    fields with '|'."""
    et = F.col("event_type")
    return (F.when(et == "dns",
                   F.concat_ws("|", "dns_rrname", "dns_rdata", "dns_rrtype"))
            .when(et == "http",
                  F.concat_ws("|", "http_host", "http_url", "http_method"))
            .when(et == "tls", F.concat_ws("|", "tls_sni", "tls_fingerprint"))
            .when(et == "alert", F.concat_ws("|", "http_host", "http_url",
                                             "dns_rrname"))
            .otherwise(F.lit("")))


def heartbeat_events(spark, event_types: list[str] = ("http",)) -> DataFrame:
    """F15: synthetic heartbeat rows with the date-derived hostname of
    processing/heartbeat_injector.go:67-119 (test-YYYY-MM-DD.vast)."""
    rows = spark.createDataFrame([(t,) for t in event_types], "event_type string")
    host = F.when(F.col("event_type") == "alert", F.lit("testalert.fever")) \
        .otherwise(F.concat(F.lit("test-"),
                            F.date_format(F.current_date(), "yyyy-MM-dd"),
                            F.lit(".vast")))
    return rows.select(
        "event_type",
        F.lit("192.0.2.1").alias("src_ip"),
        F.lit("192.0.2.2").alias("dest_ip"),
        F.lit(80).alias("dest_port"),
        F.lit("TCP").alias("proto"),
        host.alias("http_host"),
        F.lit("/just-visiting").alias("http_url"),
        F.lit("GET").alias("http_method"),
        format_suricata_ts(F.current_timestamp()).alias("timestamp_raw"),
    )


# S9: per-event-type collections (the Mongo slurper analog)

MONGO_TYPES = ["alert", "dns", "fileinfo", "flow", "http", "smtp", "ssh",
               "stats", "tls", "misc"]  # slurper_mongodb.go:14-19

# capped-collection space fractions, slurper_mongodb.go:22-35
MAXCOLLSIZEFRACTIONS = {
    "dns": 0.25, "http": 0.2, "flow": 0.25, "smtp": 0.05, "ssh": 0.05,
    "alert": 0.05, "tls": 0.05, "stats": 0.02, "misc": 0.03,
    "fileinfo": 0.05,
}


def per_type_collections(df: DataFrame, base_path: str,
                         type_col: str = "event_type",
                         max_size_bytes: int | None = None,
                         mode: str = "overwrite") -> dict[str, int]:
    """S9 Mongo per-type collections as ONE partitioned write.

    The reference dispatches each event to a per-type worker writing its
    own collection, with unknown types routed to ``misc``
    (slurper_mongodb.go:276-287) and each collection CAPPED at a fraction
    of the total space budget (slurper_mongodb.go:22-35, capped mongo
    collections drop oldest documents). Spark-first shape: a single
    ``partitionBy(type)`` pass — the writer splits rows by type inside
    every task, so N collections cost one scan, not N filtered scans.
    The capped-collection analog enforces each type's size fraction AFTER
    the write by deleting that collection's oldest files first — same
    drop-oldest semantics, expressed as retention over immutable parquet
    parts instead of an in-place ring.

    "Oldest" is file mtime, i.e. WRITE order: genuine age ordering under
    ``mode="append"`` (the capped-collection usage — each micro-batch or
    day accretes new parts, the cap evicts prior generations first).
    Under the default ``mode="overwrite"`` every part comes from the same
    job, so the cap merely bounds collection size and which rows go is
    arbitrary — don't combine overwrite with a cap expecting age
    semantics.

    Returns rows REMAINING per collection — counted after the retention
    pass, so with a cap set the numbers reflect what survived eviction,
    not what was written (one aggregation over the surviving parquet
    footers, not a count per type).
    """
    import os

    coll = F.when(F.col(type_col).isin(MONGO_TYPES), F.col(type_col)) \
        .otherwise(F.lit("misc")).alias("_collection")
    (df.withColumn("_collection", coll)
     .write.mode(mode).partitionBy("_collection")
     .parquet(base_path))

    if max_size_bytes is not None:
        for t, frac in MAXCOLLSIZEFRACTIONS.items():
            cdir = os.path.join(base_path, f"_collection={t}")
            if not os.path.isdir(cdir):
                continue
            cap = int(max_size_bytes * frac)
            parts = sorted(
                (os.path.join(cdir, f) for f in os.listdir(cdir)
                 if f.endswith(".parquet")),
                key=os.path.getmtime)
            total = sum(os.path.getsize(p) for p in parts)
            for p in parts:  # oldest first, keep at least the newest part
                if total <= cap or p == parts[-1]:
                    break
                total -= os.path.getsize(p)
                os.remove(p)

    spark = df.sparkSession
    return {r["_collection"]: r["n"] for r in
            spark.read.parquet(base_path)
            .groupBy("_collection").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
