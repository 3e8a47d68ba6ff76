"""Seeded input generators. Everything the program reads is made here
from ``--seed``; the same seed gives byte-identical inputs.

- CloudTrail-shaped ``{"Records": [...]}`` NDJSON objects (FIXTURES F2)
  carrying the F7 null/empty cases, spread over per-account tables, with
  a seeded share of batches that add fields (F6 evolution).
- Pub/Sub push envelopes (F4) around swarm messages that point at such
  objects.
- A word-soup ``documents`` table for the operator rows, with planted
  exact and near duplicates.
"""

from __future__ import annotations

import base64
import gzip
import json
import os
import random
import uuid
from dataclasses import dataclass, field

# must match rules/cloudtrail.json
BUCKET = "bench-trail"
DATASET = "trail"
DAY0 = 1_704_067_200  # 2024-01-01T00:00:00Z
DAYS = 3

# Fields every record carries non-null, as Spark's JSON inference orders
# them (alphabetically). responseElements / tags / emptyObj / errorCode
# are the F7 cases: always null, [], {} or absent, so they never reach a
# table schema.
BASE_FIELDS = [
    "additionalEventData",
    "awsRegion",
    "eventID",
    "eventName",
    "eventSource",
    "eventTime",
    "eventType",
    "eventVersion",
    "managementEvent",
    "readOnly",
    "recipientAccountId",
    "requestID",
    "requestParameters",
    "resources",
    "sourceIPAddress",
    "userAgent",
    "userIdentity",
]

_EVENTS = ["GetObject", "PutObject", "ListBucket", "HeadObject", "DeleteObject"]
_REGIONS = ["us-east-1", "eu-west-1", "ap-northeast-1"]


def account(i: int) -> str:
    return f"{100000000000 + i}"


def table_of(acct: str) -> str:
    return f"acct_{acct}"


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _record(rng: random.Random, acct: str, extra: list[str]) -> dict:
    t = DAY0 + rng.randrange(DAYS * 86400)
    rec = {
        "eventVersion": "1.05",
        "userIdentity": {"type": "AWSService", "invokedBy": "svc.amazonaws.com"},
        "eventTime": _rfc3339(t),
        "eventSource": "s3.amazonaws.com",
        "eventName": rng.choice(_EVENTS),
        "awsRegion": rng.choice(_REGIONS),
        "sourceIPAddress": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
        "userAgent": "svc.amazonaws.com",
        "requestParameters": {
            "bucketName": f"b{rng.randrange(50)}",
            "Host": "s3.amazonaws.com",
            "key": f"k/{rng.randrange(1 << 20):x}",
        },
        "responseElements": None,
        "additionalEventData": {
            "SignatureVersion": "SigV4",
            "bytesTransferredIn": float(rng.randrange(1 << 16)),
            "bytesTransferredOut": float(rng.randrange(1 << 16)),
        },
        "requestID": f"{rng.getrandbits(64):016X}",
        "eventID": _uuid(rng),
        "readOnly": rng.random() < 0.5,
        "resources": [
            {"type": "AWS::S3::Object", "ARN": f"arn:aws:s3:::b/{rng.randrange(999)}"},
            {"accountId": acct, "type": "AWS::S3::Bucket", "ARN": "arn:aws:s3:::b"},
        ],
        "eventType": "AwsApiCall",
        "recipientAccountId": acct,
        "managementEvent": False,
        "tags": [],
        "emptyObj": {},
        "errorCode": None,
    }
    for name in extra:
        rec[name] = f"{name}-{rng.randrange(1000)}"
    return rec


def _rfc3339(t: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _write_object(path: str, records: list[dict], per_line: int) -> None:
    lines = [
        json.dumps({"Records": records[i : i + per_line]}, separators=(",", ":"))
        for i in range(0, len(records), per_line)
    ]
    data = ("\n".join(lines) + "\n").encode()
    if path.endswith(".gz"):
        # mtime=0: the same seed gives byte-identical files
        with gzip.GzipFile(path, "wb", mtime=0) as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)


@dataclass
class Batch:
    """One ``load_objects`` call's worth of objects, with what the
    generator knows each table must receive."""

    paths: list[str]
    rows_by_table: dict[str, int] = field(default_factory=dict)
    # new top-level data fields per table in this batch, in the order
    # inference will list them
    added: dict[str, list[str]] = field(default_factory=dict)

    @property
    def records(self) -> int:
        return sum(self.rows_by_table.values())


def cloudtrail_batch(
    rng: random.Random,
    out_dir: str,
    tag: str,
    accts: list[str],
    objects: int,
    records: int,
    evolve: int,
    gz: int,
    per_line: int = 25,
) -> Batch:
    """Write ``objects`` NDJSON objects, the first ``gz`` of them gzipped,
    holding ``records`` records spread evenly over the tables of
    ``accts``. ``evolve`` seeded tables of those get a new field
    ``x_<tag>`` on every record."""
    os.makedirs(out_dir, exist_ok=True)
    added = {table_of(a): [f"x_{tag}"] for a in rng.sample(accts, evolve)}
    recs = []
    rows: dict[str, int] = {}
    for i in range(records):
        a = accts[i % len(accts)]
        recs.append(_record(rng, a, added.get(table_of(a), [])))
        rows[table_of(a)] = rows.get(table_of(a), 0) + 1
    rng.shuffle(recs)
    paths = []
    step = -(-len(recs) // objects)
    for j in range(objects):
        ext = ".json.gz" if j < gz else ".json"
        p = os.path.join(out_dir, f"{tag}-{j:03d}{ext}")
        _write_object(p, recs[j * step : (j + 1) * step], per_line)
        paths.append(p)
    return Batch(paths, rows, added)


def object_meta(path: str):
    from swarm_spark.model import ObjectMeta

    return ObjectMeta(
        bucket=BUCKET,
        name=os.path.basename(path),
        size=os.path.getsize(path),
        created_at=DAY0,
        path=path,
    )


def pubsub_envelope(msg_id: str, paths: list[str]) -> bytes:
    """Pub/Sub push body (F4) whose data is a swarm message naming
    ``paths`` (the ``path`` local extension of the object wire shape)."""
    objs = [
        {
            "cs": {"bucket": BUCKET, "name": os.path.basename(p)},
            "size": os.path.getsize(p),
            "created_at": DAY0,
            "digests": [],
            "path": p,
        }
        for p in paths
    ]
    data = base64.b64encode(json.dumps({"objects": objs}).encode()).decode()
    body = {
        "message": {"data": data, "message_id": msg_id, "attributes": {}},
        "subscription": "projects/bench/subscriptions/swarm",
    }
    return json.dumps(body).encode()


# the 31-token vocabulary of the registry's documents table
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")


def corpus(rng: random.Random, sf_dir: str, docs: int) -> str:
    """Write ``<sf_dir>/documents.parquet``: ``docs`` word-soup texts of
    8 to 96 tokens in the registry's schema (``doc_id, text, lang,
    source, n_chars``), with about 1 in 60 an exact copy of another and
    1 in 20 a near copy (one token in ten replaced), so dedup and
    repetition gates have work to do."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(8, 96))) for _ in range(docs)]
    for i in rng.sample(range(docs), docs // 60):
        texts[(i + 1) % docs] = texts[i]
    for i in rng.sample(range(docs), docs // 20):
        toks = texts[i].split()
        for j in rng.sample(range(len(toks)), max(1, len(toks) // 10)):
            toks[j] = rng.choice(VOCAB)
        texts[(i + 2) % docs] = " ".join(toks)
    table = pa.table(
        {
            "doc_id": pa.array(range(docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(docs)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return sf_dir
