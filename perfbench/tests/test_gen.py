"""The generators are pure functions of the seed, and their ground truth
describes what they wrote."""

import glob
import hashlib
import os

import gen

BINLOG = gen.BinlogShape(
    n_changes=600, rows_per_event=(1, 8), events_per_tx=(1, 3), update_share=0.35,
    delete_share=0.1, note_len=(8, 120), doc_keys=(1, 4),
)
PG = gen.PgShape(
    n_changes=600, big_txs=2, big_tx_rows=(100, 200), update_share=0.3,
    delete_share=0.1, days=3,
)
CORPUS = gen.CorpusShape(
    n_docs=200, vocab=2_000, zipf_s=1.0, words=(50, 90), short_share=0.1,
    symbol_share=0.05, dup_share=0.1, dup_cluster=(1, 3),
)


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(directory, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, directory).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _write_all(base: str, seed: int) -> dict:
    gen.write_binlog_backlog(os.path.join(base, "binlog"), seed, BINLOG, 3)
    gen.write_pg_backlog(os.path.join(base, "pg"), seed, PG, 2)
    gen.write_corpus(os.path.join(base, "corpus", "docs.parquet"), seed, CORPUS)
    return {k: _digest(os.path.join(base, k)) for k in ("binlog", "pg", "corpus")}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 7)
    c = _write_all(str(tmp_path / "c"), 8)
    assert a == b
    for kind in a:
        assert a[kind] != c[kind], kind


def test_binlog_model_matches_wire_decode(tmp_path):
    import deltaforge_spark.sources.binlog as bl

    cap = gen.write_binlog_backlog(str(tmp_path), 3, BINLOG, 2)
    seen = 0
    for path in sorted(glob.glob(str(tmp_path / "*.binlog"))):
        with open(path, "rb") as f:
            events = bl.parse_segment(f.read(), gen.binlog_columns_by_table())
        for ev in events:
            if ev["kind"] != "rows":
                continue
            for r in ev["rows"]:
                img = r["after"] or r["before"]
                op, before, after = cap.changes[(ev["table"], ev["gtid"][1], img["id"])]
                assert (ev["op"], r["before"], r["after"]) == (op, before, after)
                seen += 1
    assert seen == len(cap.changes) >= BINLOG.n_changes


def test_pg_model_matches_wire_decode(tmp_path):
    import deltaforge_spark.sources.pgoutput as pg
    from deltaforge_spark.sources.datasource import _read_spool

    cap = gen.write_pg_backlog(str(tmp_path), 5, PG, 2)
    xid = None
    seen = 0
    for path in sorted(glob.glob(str(tmp_path / "*.pgout"))):
        for _name, _seq, data in _read_spool(path, 0):
            msg = pg.parse_message(data)
            if msg["kind"] == "begin":
                xid = msg["xid"]
            elif msg["kind"] in ("insert", "update", "delete"):
                vals = msg.get("new") or msg.get("old")
                op, after, _ts = cap.changes[(_table(msg), xid, int(vals[0]))]
                assert op == msg["kind"][0].replace("i", "c")
                assert after == (msg.get("new") if op != "d" else None)
                seen += 1
    assert seen == len(cap.changes) >= PG.n_changes


def test_pg_backlog_has_the_same_transaction_mix_for_every_seed(tmp_path):
    import collections

    for seed in (1, 2, 3):
        cap = gen.write_pg_backlog(str(tmp_path / str(seed)), seed, PG, 2)
        rows = collections.Counter(xid for _table, xid, _pk in cap.changes)
        big = [n for n in rows.values() if n > 10]
        assert len(big) == PG.big_txs
        assert all(PG.big_tx_rows[0] <= n <= PG.big_tx_rows[1] for n in big)


def _table(msg) -> str:
    return {16401: "accounts", 16402: "ledger"}[msg["relation_id"]]


def test_corpus_plants_duplicates_and_gate_failures(tmp_path):
    docs, dup_of = gen.corpus_texts(11, CORPUS)
    assert len(docs) == CORPUS.n_docs
    assert len({d for d, _ in docs}) == len(docs)
    assert dup_of and all(d in dict(docs) and o in dict(docs) for d, o in dup_of.items())
    assert any(len(t.split(" ")) < 50 for _, t in docs)  # below the word-count gate
