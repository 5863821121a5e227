"""Seeded input generators for the benchmark workloads.

Every generator draws from ``random.Random(seed)`` only, writes its inputs
with the engine's own public wire encoders, and returns a ground-truth model
of what it wrote. The engine under test receives only the files.

- binlog: ``SegmentWriter`` + ``table_map_payload`` / ``rows_payload`` /
  ``gtid_payload`` / ``xid_payload`` (MySQL ROWS_EVENT v2 with CRC32)
- pgoutput: ``encode_relation`` / ``encode_begin`` / ``encode_insert`` /
  ``encode_update`` / ``encode_delete`` / ``encode_commit``, framed by
  ``write_spool`` (the ``pgoutput_spool`` format)
- corpus: plain parquet of (doc_id, text)
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

# -- binlog ----------------------------------------------------------------

BINLOG_DB = "shop"
SERVER_ID = 4242
SID = bytes(range(100, 116))
# rows below this amount are dropped by the workload's filter stage
MIN_AMOUNT = 1

_STATUSES = ["new", "paid", "shipped", "void", "returned"]
_WORDS = (
    "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega "
    "river stone cloud maple cedar harbor signal vector buffer commit"
).split()

# row text is sliced from one fixed string: drawing every word per row
# made generation slower than the decode it feeds
_NOTE_TEXT = " ".join(_WORDS[(i * 7 + i // 5) % len(_WORDS)] for i in range(400))


class _LiveRows:
    """Live primary keys of one table with O(1) random pick and removal."""

    def __init__(self):
        self.rows: dict[int, list] = {}
        self._keys: list[int] = []
        self._pos: dict[int, int] = {}

    def put(self, pk: int, row: list) -> None:
        if pk not in self.rows:
            self._pos[pk] = len(self._keys)
            self._keys.append(pk)
        self.rows[pk] = row

    def remove(self, pk: int) -> None:
        del self.rows[pk]
        i = self._pos.pop(pk)
        last = self._keys.pop()
        if last != pk:
            self._keys[i] = last
            self._pos[last] = i

    def pick(self, rng: random.Random, exclude: set, table: str):
        """A random live pk not in ``exclude`` (a few tries), else None."""
        for _ in range(4):
            if not self._keys:
                return None
            pk = self._keys[rng.randrange(len(self._keys))]
            if (table, pk) not in exclude:
                return pk
        return None


def _binlog_tables():
    import deltaforge_spark.sources.binlog as bl

    return {
        "orders": {
            "id": 901,
            "cols": ["id", "customer", "status", "amount", "created", "doc", "note"],
            "types": [
                bl.MYSQL_TYPE_LONGLONG,
                bl.MYSQL_TYPE_LONG,
                bl.MYSQL_TYPE_VARCHAR,
                bl.MYSQL_TYPE_NEWDECIMAL,
                bl.MYSQL_TYPE_DATETIME2,
                bl.MYSQL_TYPE_JSON,
                bl.MYSQL_TYPE_VARCHAR,
            ],
            "metas": [0, 0, 32, (12 << 8) | 2, 6, 4, 1024],
        },
        "payments": {
            "id": 902,
            "cols": ["id", "customer", "status", "amount", "created", "doc", "note"],
            "types": [
                bl.MYSQL_TYPE_LONGLONG,
                bl.MYSQL_TYPE_LONG,
                bl.MYSQL_TYPE_VARCHAR,
                bl.MYSQL_TYPE_NEWDECIMAL,
                bl.MYSQL_TYPE_DATETIME2,
                bl.MYSQL_TYPE_JSON,
                bl.MYSQL_TYPE_VARCHAR,
            ],
            "metas": [0, 0, 32, (10 << 8) | 2, 6, 4, 1024],
        },
    }


def binlog_image_schema():
    """Spark schema of the before/after images (decimals ride as strings,
    DATETIME2 as epoch microseconds, JSON as its text)."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("customer", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("amount", T.StringType()),
            T.StructField("created", T.LongType()),
            T.StructField("doc", T.StringType()),
            T.StructField("note", T.StringType()),
        ]
    )


def binlog_columns_by_table() -> dict:
    return {(BINLOG_DB, t): spec["cols"] for t, spec in _binlog_tables().items()}


@dataclass
class BinlogShape:
    """The properties binlog decode and Kafka produce costs depend on."""

    n_changes: int
    rows_per_event: tuple[int, int]  # inclusive range drawn per ROWS event
    events_per_tx: tuple[int, int]
    update_share: float
    delete_share: float
    note_len: tuple[int, int]  # row width
    doc_keys: tuple[int, int]  # JSON column width


@dataclass
class Transaction:
    gno: int
    changes: list = field(default_factory=list)


@dataclass
class BinlogCapture:
    """Ground truth of a generated binlog capture.

    ``changes`` maps (table, gno, pk) to (op, before, after); images are
    dicts keyed by column name with the values the decoder must surface
    (``doc`` as a parsed JSON object)."""

    changes: dict
    n_tx: int
    n_rows_events: int
    wire_bytes: int


def _row(rng: random.Random, pk: int, shape: BinlogShape) -> list:
    # rng.random() instead of randrange/choice: generation time is paid
    # on every run, and randrange costs ~4x more per draw
    rnd = rng.random
    cents = int(rnd() * 100_000)
    if rnd() < 0.05:
        cents = int(rnd() * 100)  # below MIN_AMOUNT: filtered out
    lo, hi = shape.doc_keys
    doc = {}
    for i in range(lo + int(rnd() * (hi - lo + 1))):
        v = rnd()
        doc[f"k{i}"] = int(v * 20_000) if v < 0.5 else _WORDS[int(v * 40) % len(_WORDS)]
    lo, hi = shape.note_len
    note_len = lo + int(rnd() * (hi - lo + 1))
    off = int(rnd() * (len(_NOTE_TEXT) - note_len))
    return [
        pk,
        1 + int(rnd() * 50_000),
        _STATUSES[int(rnd() * len(_STATUSES))],
        str(Decimal(cents).scaleb(-2)),
        1_700_000_000_000_000 + int(rnd() * 30 * 86_400_000_000),
        doc,
        _NOTE_TEXT[off : off + note_len],
    ]


def _image(cols: list[str], row: list) -> dict:
    return dict(zip(cols, row))


def binlog_transactions(
    rng: random.Random, shape: BinlogShape, *, first_gno: int = 1, first_pk: int = 1,
    n_tx: int | None = None,
):
    """Draw transactions until ``shape.n_changes`` row changes exist, or
    ``n_tx`` transactions when given. GTIDs count up from ``first_gno`` and
    inserted primary keys from ``first_pk``.

    Returns a list of (Transaction, events) where events are
    (table, kind, images) ROWS events; ``kind`` is c/u/d and ``images``
    the flat image list ``rows_payload`` takes (before/after pairs for
    updates)."""
    tables = _binlog_tables()
    live = {t: _LiveRows() for t in tables}
    next_pk = {t: first_pk for t in tables}
    out = []
    made = 0
    gno = first_gno
    while (made < shape.n_changes) if n_tx is None else (len(out) < n_tx):
        tx = Transaction(gno=gno)
        events = []
        touched: set = set()
        for _ in range(rng.randint(*shape.events_per_tx)):
            table = rng.choice(list(tables))
            cols = tables[table]["cols"]
            r = rng.random()
            kind = "c"
            if r < shape.update_share:
                kind = "u"
            elif r < shape.update_share + shape.delete_share:
                kind = "d"
            n = rng.randint(*shape.rows_per_event)
            images = []
            for _ in range(n):
                if kind != "c":
                    pk = live[table].pick(rng, touched, table)
                    if pk is None:
                        break  # no live row left to update/delete here
                    before = live[table].rows[pk]
                    if kind == "u":
                        after = list(before)
                        fresh = _row(rng, pk, shape)
                        for i in rng.sample(range(1, len(cols)), rng.randint(1, 3)):
                            after[i] = fresh[i]
                        images += [before, after]
                        live[table].put(pk, after)
                        tx.changes.append((table, pk, "u", _image(cols, before), _image(cols, after)))
                    else:
                        images.append(before)
                        live[table].remove(pk)
                        tx.changes.append((table, pk, "d", _image(cols, before), None))
                    touched.add((table, pk))
                    continue
                pk = next_pk[table]
                next_pk[table] += 1
                row = _row(rng, pk, shape)
                live[table].put(pk, row)
                images.append(row)
                touched.add((table, pk))
                tx.changes.append((table, pk, "c", None, _image(cols, row)))
            if images:
                events.append((table, kind, images))
        if not events:
            continue
        made += len(tx.changes)
        out.append((tx, events))
        gno += 1
    return out


def encode_binlog_segment(txs) -> tuple[bytes, int]:
    """One self-contained segment (FDE first) holding ``txs``; returns
    (bytes, number of ROWS events)."""
    import deltaforge_spark.sources.binlog as bl

    tables = _binlog_tables()
    kinds = {"c": bl.WRITE_ROWS_EVENT, "u": bl.UPDATE_ROWS_EVENT, "d": bl.DELETE_ROWS_EVENT}
    w = bl.SegmentWriter(server_id=SERVER_ID)
    w.append(bl.FORMAT_DESCRIPTION_EVENT, bl.fde_payload())
    n_rows_events = 0
    for tx, events in txs:
        w.append(bl.GTID_LOG_EVENT, bl.gtid_payload(SID, tx.gno))
        mapped: set = set()
        for table, kind, images in events:
            spec = tables[table]
            if table not in mapped:
                w.append(
                    bl.TABLE_MAP_EVENT,
                    bl.table_map_payload(
                        spec["id"], BINLOG_DB, table, spec["types"], spec["metas"],
                        [False] + [True] * (len(spec["cols"]) - 1),
                    ),
                )
                mapped.add(table)
            w.append(
                kinds[kind],
                bl.rows_payload(
                    spec["id"], len(spec["cols"]), images, spec["types"], spec["metas"],
                    update=kind == "u",
                ),
            )
            n_rows_events += 1
        w.append(bl.XID_EVENT, bl.xid_payload(tx.gno))
    return w.bytes(), n_rows_events


def binlog_model(txs) -> dict:
    changes = {}
    for tx, _events in txs:
        for table, pk, op, before, after in tx.changes:
            changes[(table, tx.gno, pk)] = (op, before, after)
    return changes


def write_binlog_backlog(out_dir: str, seed: int, shape: BinlogShape, n_segments: int) -> BinlogCapture:
    """A backlog of ``n_segments`` segment files (``seg-NNNN.binlog``)."""
    rng = random.Random(seed)
    txs = binlog_transactions(rng, shape)
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(txs) // n_segments)
    n_events = wire = 0
    for i in range(n_segments):
        chunk = txs[i * per : (i + 1) * per]
        if not chunk:
            break
        data, n = encode_binlog_segment(chunk)
        n_events += n
        wire += len(data)
        with open(os.path.join(out_dir, f"seg-{i:04d}.binlog"), "wb") as f:
            f.write(data)
    return BinlogCapture(binlog_model(txs), len(txs), n_events, wire)


def passes_filter(op: str, before: dict | None, after: dict | None) -> bool:
    """The workload's filter stage: amount >= MIN_AMOUNT on the after
    image, falling back to the before image for deletes."""
    img = after if after is not None else before
    return float(img["amount"]) >= MIN_AMOUNT


# -- pgoutput --------------------------------------------------------------

PG_SCHEMA = "public"
PG_EPOCH_US = 946_684_800_000_000  # 2000-01-01 in Unix microseconds


def _pg_tables():
    import deltaforge_spark.sources.pgoutput as pg

    cols = [
        ("id", pg.INT8, -1, 1),
        ("account", pg.INT8, -1, 0),
        ("state", pg.TEXT, -1, 0),
        ("total", pg.NUMERIC, -1, 0),
        ("attrs", pg.JSONB, -1, 0),
        ("memo", pg.TEXT, -1, 0),
    ]
    return {"accounts": (16401, cols), "ledger": (16402, cols)}


def pg_image_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("account", T.LongType()),
            T.StructField("state", T.StringType()),
            T.StructField("total", T.StringType()),
            T.StructField("attrs", T.StringType()),
            T.StructField("memo", T.StringType()),
        ]
    )


@dataclass
class PgShape:
    n_changes: int
    big_txs: int  # transactions of big_tx_rows rows each, the rest have 1-10
    big_tx_rows: tuple[int, int]
    update_share: float
    delete_share: float
    days: int  # commit timestamps spread over this many days


@dataclass
class PgCapture:
    """``changes`` maps (table, xid, pk) to (op, after, commit_ts_us)."""

    changes: dict
    n_tx: int
    n_messages: int
    wire_bytes: int


def write_pg_backlog(out_dir: str, seed: int, shape: PgShape, n_files: int) -> PgCapture:
    """A plain (protocol v1, B…C) capture split over ``n_files`` spool
    files (``spool-NNNN.pgout``); transactions may straddle files."""
    import deltaforge_spark.sources.pgoutput as pg
    from deltaforge_spark.sources.datasource import write_spool

    rng = random.Random(seed)
    tables = _pg_tables()
    msgs = [pg.encode_relation(rid, PG_SCHEMA, t, cols) for t, (rid, cols) in tables.items()]
    live = {t: _LiveRows() for t in tables}
    next_pk = {t: 1 for t in tables}
    changes = {}
    lsn = 0x16B0000
    xid = 7000
    ts_us = 1_700_000_000_000_000 - PG_EPOCH_US
    span_us = shape.days * 86_400_000_000
    made = n_tx = 0
    # a fixed number of big transactions, each starting once a seeded share
    # of the row changes is written: the transaction mix tx stamping depends
    # on is the same for every seed, and each big one fits in the backlog
    slack = shape.n_changes - shape.big_txs * shape.big_tx_rows[1]
    big_at = sorted(rng.randrange(slack) for _ in range(shape.big_txs))
    while made < shape.n_changes:
        xid += 1
        n_tx += 1
        if big_at and made >= big_at[0]:
            big_at.pop(0)
            n_rows = rng.randint(*shape.big_tx_rows)
        else:
            n_rows = rng.randint(1, 10)  # the common small transaction
        # every seed gets the same number of row changes, so records_per_s
        # compares like with like
        n_rows = min(n_rows, shape.n_changes - made)
        commit_ts = ts_us + rng.randrange(span_us)
        body = []
        touched: set = set()
        for _ in range(n_rows):
            table = rng.choice(list(tables))
            rid, _cols = tables[table]
            r = rng.random()
            pk = None
            if r < shape.update_share + shape.delete_share:
                pk = live[table].pick(rng, touched, table)
            if pk is not None:
                before = live[table].rows[pk]
                if r < shape.update_share:
                    after = list(before)
                    after[2] = rng.choice(_STATUSES)
                    after[3] = str(Decimal(rng.randrange(0, 10**7)).scaleb(-2))
                    live[table].put(pk, after)
                    body.append(pg.encode_update(rid, after, before))
                    op, img = "u", after
                else:
                    live[table].remove(pk)
                    body.append(pg.encode_delete(rid, before))
                    op, img = "d", None
            else:
                pk = next_pk[table]
                next_pk[table] += 1
                n_attrs = rng.randint(0, 4)
                attrs = {f"a{i}": rng.randrange(1000) for i in range(n_attrs)}
                img = [
                    str(pk),
                    str(rng.randrange(1, 10**6)),
                    rng.choice(_STATUSES),
                    str(Decimal(rng.randrange(0, 10**7)).scaleb(-2)),
                    json.dumps(attrs, separators=(",", ":")),
                    " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 12))),
                ]
                live[table].put(pk, img)
                body.append(pg.encode_insert(rid, img))
                op = "c"
            touched.add((table, pk))
            changes[(table, xid, pk)] = (op, None if img is None else list(img), commit_ts)
        if not body:
            n_tx -= 1
            continue
        made += len(body)
        lsn += 0x100
        msgs.append(pg.encode_begin(lsn + 0x80 * len(body), commit_ts, xid))
        msgs.extend(body)
        msgs.append(pg.encode_commit(lsn + 0x80 * len(body), lsn + 0x80 * len(body) + 8, commit_ts))
        lsn += 0x80 * len(body) + 16
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(msgs) // n_files)
    wire = 0
    for i in range(n_files):
        chunk = msgs[i * per : (i + 1) * per]
        write_spool(os.path.join(out_dir, f"spool-{i:04d}.pgout"), chunk)
        wire += sum(4 + len(m) for m in chunk)
    return PgCapture(changes, n_tx, len(msgs), wire)


def pg_after_image(values: list | None) -> dict | None:
    """The after image the decoder surfaces for the text tuple ``values``."""
    if values is None:
        return None
    names = [c[0] for c in _pg_tables()["accounts"][1]]
    out = dict(zip(names, values))
    out["id"], out["account"] = int(out["id"]), int(out["account"])
    out["attrs"] = json.loads(out["attrs"])
    return out


# -- corpus ----------------------------------------------------------------


@dataclass
class CorpusShape:
    n_docs: int
    vocab: int
    zipf_s: float
    words: tuple[int, int]  # document length range
    short_share: float  # docs below the Gopher word-count gate
    symbol_share: float  # docs failing the symbol-ratio gate
    dup_share: float  # share of docs that are planted near-duplicates
    dup_cluster: tuple[int, int]  # copies per planted cluster


@dataclass
class Corpus:
    """``dup_of`` maps each planted near-duplicate doc_id to the doc_id
    of the original it was derived from."""

    dup_of: dict
    n_docs: int


def _zipf_vocab(rng: random.Random, shape: CorpusShape) -> tuple[list[str], list[float]]:
    letters = "etaoinshrdlucmfwypvbgk"
    stop = ["the", "be", "to", "of", "and", "that", "have", "with"]
    words = list(stop)
    seen = set(words)
    while len(words) < shape.vocab:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    weights = [1.0 / (r + 1) ** shape.zipf_s for r in range(len(words))]
    return words, weights


def corpus_texts(seed: int, shape: CorpusShape) -> tuple[list[tuple[int, str]], dict]:
    rng = random.Random(seed)
    words, weights = _zipf_vocab(rng, shape)
    docs: list[tuple[int, str]] = []
    dup_of: dict[int, int] = {}
    doc_id = 0
    while len(docs) < shape.n_docs:
        r = rng.random()
        if r < shape.short_share:
            n = rng.randint(5, 40)
        else:
            n = rng.randint(*shape.words)
        toks = rng.choices(words, weights, k=n)
        if rng.random() < shape.symbol_share:
            toks = [t + "#%" if i % 3 == 0 else t for i, t in enumerate(toks)]
        text = " ".join(toks)
        docs.append((doc_id, text))
        orig = doc_id
        doc_id += 1
        if rng.random() < shape.dup_share:
            for _ in range(rng.randint(*shape.dup_cluster)):
                if len(docs) >= shape.n_docs:
                    break
                near = list(toks)
                # a near-duplicate: a couple of single-token edits
                for _ in range(max(1, len(near) // 60)):
                    near[rng.randrange(len(near))] = rng.choice(words)
                docs.append((doc_id, " ".join(near)))
                dup_of[doc_id] = orig
                doc_id += 1
    rng.shuffle(docs)
    return docs, dup_of


def write_corpus(path: str, seed: int, shape: CorpusShape) -> Corpus:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs, dup_of = corpus_texts(seed, shape)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=max(1, len(docs) // 8))
    return Corpus(dup_of, len(docs))
