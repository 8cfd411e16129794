"""Seeded input generators. The same seed gives byte-identical files.

Nothing here reads data from outside the run's work directory: every
table is synthesised from the seed, with the schemas graft's loaders
expect (see graft.Tables).
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- pipeline

COUNTRIES = ["de", "fr", "es", "it", "nl", "pl", "pt", "se", "us", "br"]
FIRST_BATCH = dt.date(2025, 3, 1)

PIPELINE_META = """{
  "processing_mode": "incremental",
  "dataflows": [{
    "name": "daily-events",
    "sources": [{
      "name": "events", "path": "{root}/landing/batch-{date}", "format": "json",
      "schema_enforcement": {"enabled": true},
      "schema": {"type": "struct", "fields": [
        {"name": "event_id", "type": "long", "nullable": false},
        {"name": "user_key", "type": "string", "nullable": false},
        {"name": "session_id", "type": "string", "nullable": true},
        {"name": "email", "type": "string", "nullable": true},
        {"name": "country", "type": "string", "nullable": true},
        {"name": "amount", "type": "double", "nullable": true},
        {"name": "event_ts", "type": "timestamp", "nullable": true}]}}],
    "transformations": [
      {"name": "stamped", "type": "add_fields", "params": {"input": "events", "addFields": [
        {"name": "batch_date", "function": "batch_date"},
        {"name": "run_id", "function": "run_id"},
        {"name": "ingested_at", "function": "current_timestamp"}]}},
      {"name": "checked", "type": "validate_fields", "params": {"input": "stamped", "validations": [
        {"field": "session_id", "rules": ["notNull"]},
        {"field": "country", "rules": ["notEmpty"]},
        {"field": "email", "rules": [{"name": "regex", "params": %(regex)s}]},
        {"field": "amount", "rules": [{"name": "minValue", "params": 0}]}]}}],
    "sinks": [
      {"input": "checked_ok", "name": "ok", "path": "{root}/out/ok/batch-{date}",
       "format": "parquet", "saveMode": "overwrite"},
      {"input": "checked_ko", "name": "ko", "path": "{root}/out/ko/batch-{date}",
       "format": "parquet", "saveMode": "overwrite"}]
  }],
  "consolidation": {
    "enabled": true,
    "ok_records": {
      "input_pattern": "{root}/out/ok/batch-*",
      "output_path": "{root}/out/consolidated",
      "deduplication": {"enabled": true, "key_column": "user_key",
        "order_by": "batch_date", "order_direction": "DESC", "tie_breaker": "event_id"}}}
}"""

EMAIL_REGEX = r"^[a-z0-9.]+@[a-z]+\.(com|org|net)$"


def pipeline_meta():
    return PIPELINE_META % {"regex": json.dumps(EMAIL_REGEX)}


def batch_dates(n):
    return [(FIRST_BATCH + dt.timedelta(days=i)).isoformat() for i in range(n)]


def pipeline_batches(seed, pool, n_batches, rows, keys, bad=0.02):
    """Daily JSON-lines batches under pool/batch-<date>/. Each validation
    rule fails on about `bad` of the rows; user keys repeat within and
    across batches, so keep-newest consolidation drops rows."""
    rng = random.Random(f"pipeline-{seed}")
    dates = batch_dates(n_batches)
    for b, date in enumerate(dates):
        lines = []
        for i in range(rows):
            r = rng.random
            email = "%s%d@%s.%s" % (rng.choice(["ana", "bo", "cy", "di.x"]), rng.randrange(10000),
                                     rng.choice(["mail", "corp"]), rng.choice(["com", "org", "net"]))
            if r() < bad:
                email = rng.choice(["no-at-sign", "Upper@Mail.COM", "x@y", "a b@mail.com"])
            amount = round(rng.uniform(0, 1000), 2)
            if r() < bad:
                amount = -round(rng.uniform(0.01, 100), 2)
            country = rng.choice(COUNTRIES)
            if r() < bad:
                country = rng.choice(["", "  "])
            session = None if r() < bad else "s%08x" % rng.getrandbits(32)
            secs = rng.randrange(86400)
            lines.append(json.dumps({
                "event_id": b * 10_000_000 + i,
                "user_key": "u%06d" % rng.randrange(keys),
                "session_id": session,
                "email": email,
                "country": country,
                "amount": amount,
                "event_ts": "%sT%02d:%02d:%02dZ" % (date, secs // 3600, secs // 60 % 60, secs % 60),
            }, separators=(",", ":")))
        d = os.path.join(pool, f"batch-{date}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-00000.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return dates


# --------------------------------------------------------------- curation

WORDS = ("a the data spark scan sort hash join group query filter window row line part "
         "column table stream batch merge order key value vector customer agg fast slow "
         "big small").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _rot(text, k):
    """Letter rotation: the replica keeps token structure and duplicate
    groups, but no shingle matches across replicas."""
    if k == 0:
        return text
    return "".join(chr((ord(c) - 97 + k) % 26 + 97) if "a" <= c <= "z" else c for c in text)


def corpus(seed, path, base_docs, replicas, sources=8):
    """documents.parquet: `replicas` cipher replicas of a seeded base
    corpus that carries exact and near duplicates."""
    rng = random.Random(f"corpus-{seed}")
    base, originals = [], []
    for i in range(base_docs):
        # fixed shares, and duplicates only ever copy an original: every
        # seed gives the same cluster shape (stars of depth one), so the
        # near-dup connected components converge in the same number of
        # rounds whatever the seed
        kind = i % 20
        if originals and kind == 19:
            text = rng.choice(originals)                    # exact duplicate
        elif originals and kind in (7, 13):
            words = rng.choice(originals).split()           # near duplicate
            j = rng.randrange(len(words))
            words[j] = rng.choice(WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(5, 80)))
            originals.append(text)
        base.append((text, rng.choice(LANGS), "src%d" % rng.randrange(sources)))
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for i, (text, lang, src) in enumerate(base):
        for k in range(replicas):
            t = _rot(text, k)
            rows["doc_id"].append(i * replicas + k)
            rows["text"].append(t)
            rows["lang"].append(lang)
            rows["source"].append(src)
            rows["n_chars"].append(len(t))
    table = pa.table({
        "doc_id": pa.array(rows["doc_id"], pa.int64()),
        "text": pa.array(rows["text"], pa.string()),
        "lang": pa.array(rows["lang"], pa.string()),
        "source": pa.array(rows["source"], pa.string()),
        "n_chars": pa.array(rows["n_chars"], pa.int64()),
    })
    pq.write_table(table, path)


# --------------------------------------------------------------- tables

def _us(day0, days):
    return (np.datetime64(day0, "D") + days).astype("datetime64[us]")


def loop_tables(seed, out, orders=150_000, customers=15_000, suppliers=1_000,
                events=100_000, users=1_500):
    """orders, lineitem and events at the sf0.1 sizes of graft's testdata."""
    rs = np.random.RandomState(seed % (2 ** 32))
    os.makedirs(out, exist_ok=True)
    okey = np.arange(orders, dtype=np.int64)
    odays = rs.randint(0, 2404, orders)                     # 1995-01-01 .. 2001-08-01
    pq.write_table(pa.table({
        "o_orderkey": okey,
        "o_custkey": rs.randint(0, customers, orders).astype(np.int64),
        "o_orderstatus": pa.array(rs.choice(["O", "F", "P"], orders).tolist()),
        "o_totalprice": np.round(rs.uniform(900, 500_000, orders), 2),
        "o_orderdate": pa.array(_us("1995-01-01", odays), pa.timestamp("us")),
        "o_orderpriority": pa.array(rs.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders).tolist()),
    }), os.path.join(out, "orders.parquet"))

    nlines = rs.randint(1, 8, orders)
    lkey = np.repeat(okey, nlines)
    n = len(lkey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    pq.write_table(pa.table({
        "l_orderkey": lkey,
        "l_partkey": rs.randint(0, 20_000, n).astype(np.int64),
        "l_suppkey": rs.randint(0, suppliers, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rs.randint(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rs.uniform(900, 100_000, n), 2),
        "l_discount": rs.randint(0, 11, n) / 100.0,
        "l_tax": rs.randint(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rs.choice(["A", "N", "R"], n).tolist()),
        "l_linestatus": pa.array(rs.choice(["O", "F"], n).tolist()),
        "l_shipdate": pa.array(_us("1995-01-01", np.repeat(odays, nlines) + rs.randint(1, 122, n)),
                               pa.timestamp("us")),
    }), os.path.join(out, "lineitem.parquet"))

    ts = np.sort(rs.randint(0, 30 * 86_400 * 1_000_000, events)).astype("timedelta64[us]")
    pq.write_table(pa.table({
        "event_id": np.arange(events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts, pa.timestamp("us")),
        "user_id": rs.randint(0, users, events).astype(np.int64),
        "event_type": pa.array(rs.choice(["signup", "click", "error", "view", "purchase"],
                                         events).tolist()),
        "value": np.round(rs.uniform(0, 560, events), 2),
        "props": pa.array(['{"k": %d}' % k for k in rs.randint(0, 100, events)]),
    }), os.path.join(out, "events.parquet"))
