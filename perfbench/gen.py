"""Seeded input generator for the graft benchmark.

The base tables are graft's sf0.1 test tables `events`, `documents` and
`embeddings`, kept verbatim under `perfbench/data/sf0.1/` so that a
checkout of the repository is all a run needs. Every generated table keeps
the name and schema of its base table, so graft's declared queries and
their DuckDB oracle SQL run unchanged on a generated directory. The seed
derives each workload's inputs from the base tables:

- incident_daily: the 100k-row, 30-day `events` stream cut into arrival
  batches at seeded boundaries; each batch also carries re-delivered
  event ids (same event, corrected value) and stale rows behind the
  watermark. The accumulated table starts at a seeded late offset: the
  first batches' one-shot result (the checker's query) is written as
  `prefix.parquet`, and the harness appends it before its warm pass, so
  the timed batches read and append to a near-full table.
- text_curation: a seeded sample of the documents, copied per shard and
  Caesar-rotated per shard (the `tools/gen_sf1.py` construction), plus
  planted near-duplicates.
- vector_graph: dim-shifted copies of the embeddings (the `gen_sf1.py`
  construction) plus seeded probe batches (perturbed corpus vectors).

text_curation and vector_graph also get a small `check` input of the same
shape (another seeded sample), for the declared queries whose DuckDB
oracle would be too slow on the main input.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
AZ = "abcdefghijklmnopqrstuvwxyz"

# Input sizes, also stated in BENCHMARK.json's workload descriptions.
SIZES = {
    "incident_daily": {"batches": 120, "redeliver_share": 0.04, "stale_share": 0.02,
                       "lookback_days": 3, "warm_batches": 1,
                       # batches left after the prefix: warm + timed, with room
                       "tail_batches": 24, "tail_jitter": 5},
    "text_curation": {"base_docs": 300, "shards": 2, "planted": 12,
                      "check_docs": 60},
    "vector_graph": {"copies": 2, "probe_batches": 120, "probe_batch_size": 8,
                     "check_vectors": 300},
}


def base(table):
    """A base table, without the pandas metadata its writer attached."""
    t = pq.read_table(f"{DATA}/{table}.parquet")
    return t.replace_schema_metadata(None)


def write(columns, schema, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), path)


def columns(table):
    """Column name -> numpy array; timestamps as their integer ticks."""
    out = {}
    for f in table.schema:
        c = table.column(f.name)
        if pa.types.is_timestamp(f.type):
            c = c.cast(pa.int64())
        out[f.name] = c.to_numpy(zero_copy_only=False)
    return out


# ---------------------------------------------------------------- events

TICKS_PER_S = {"s": 1, "ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}


def incident_batches(rng, cfg, ev, day):
    """Cuts the stream `ev` (ts ticks, `day` ticks a day) into arrival
    batches; returns a list of column dicts."""
    n, nb = len(ev["event_id"]), cfg["batches"]
    order = np.argsort(ev["ts"], kind="stable")
    ev = {k: v[order] for k, v in ev.items()}
    # near-even batches whose seeded cuts jitter by up to 3 % of the mean
    w = np.cumsum(rng.uniform(0.97, 1.03, nb))
    bounds = np.concatenate([[0], np.round(w[:-1] / w[-1] * n).astype(np.int64), [n]])
    next_id = int(ev["event_id"].max()) + 1
    t_first = ev["ts"][0]
    batches = []
    for b in range(nb):
        lo, hi = bounds[b], bounds[b + 1]
        rows = {k: v[lo:hi] for k, v in ev.items()}
        extra = []
        if b > 0:
            # re-deliveries: earlier events from the last few batches, same
            # event but a corrected value, so keep-first is observable
            src_lo = bounds[max(0, b - 5)]
            k = max(1, int(round(cfg["redeliver_share"] * (hi - lo))))
            idx = rng.choice(np.arange(src_lo, lo), min(k, lo - src_lo), replace=False)
            red = {c: v[idx] for c, v in ev.items()}
            red["value"] = np.round(red["value"] + 1.0, 2)
            extra.append(red)
        # stale rows: events of the stream under new ids, stamped at least
        # lookback+1 days before the batch, which the watermark must drop
        first_ts = rows["ts"][0]
        min_back = (cfg["lookback_days"] + 1) * day
        if first_ts - min_back > t_first:
            k = max(1, int(round(cfg["stale_share"] * (hi - lo))))
            st = {c: v[rng.integers(0, n, k)] for c, v in ev.items()}
            back = rng.integers(min_back, min_back + 6 * day, k)
            st["ts"] = np.maximum(first_ts - back, t_first)
            st["event_id"] = np.arange(next_id, next_id + k, dtype=np.int64)
            next_id += k
            extra.append(st)
        for e in extra:
            rows = {c: np.concatenate([rows[c], e[c]]) for c in rows}
        perm = rng.permutation(len(rows["event_id"]))
        batches.append({c: v[perm] for c, v in rows.items()})
    return batches


def gen_incident(rng, out):
    cfg = SIZES["incident_daily"]
    events = base("events")
    day = 86_400 * TICKS_PER_S[events.schema.field("ts").type.unit]
    batches = incident_batches(rng, cfg, columns(events), day)
    for b, rows in enumerate(batches):
        write(rows, events.schema, f"{out}/batches/b{b:04d}/events.parquet")
    # the accumulated table at a seeded late offset: the one-shot result
    # over the batches before it, which the checker's query defines
    prefix = (cfg["batches"] - cfg["tail_batches"]
              - int(rng.integers(0, cfg["tail_jitter"] + 1)))
    sql = checks.incident_one_shot(out, range(prefix), cfg["lookback_days"])
    duckdb.connect().execute(f"COPY ({sql}) TO '{out}/prefix.parquet' (FORMAT parquet)")
    return {"batches": len(batches),
            "batch_rows": [int(len(r["event_id"])) for r in batches],
            "prefix_batches": prefix,
            "lookback_days": cfg["lookback_days"],
            "warm_batches": cfg["warm_batches"]}


# ------------------------------------------------------------- documents

def rotate(text, ci):
    """Caesar rotation of letters and digits (a bijection, as in gen_sf1)."""
    if ci == 0:
        return text
    lo, dg = AZ, "0123456789"
    table = str.maketrans(lo + lo.upper() + dg,
                          lo[ci:] + lo[:ci] + lo.upper()[ci:] + lo.upper()[:ci]
                          + dg[ci % 10:] + dg[:ci % 10])
    return text.translate(table)


def near_dup(rng, text):
    """One word replaced and one appended, both drawn from the text."""
    words = text.split(" ")
    words[int(rng.integers(0, len(words)))] = words[int(rng.integers(0, len(words)))]
    return " ".join(words + [words[int(rng.integers(0, len(words)))]])


def corpus(rng, docs, n, shards, planted):
    """`n` seeded documents of `docs`, copied per shard, plus near-dups."""
    pick = np.sort(rng.choice(len(docs["doc_id"]), n, replace=False))
    ids, texts, langs, sources = [], [], [], []
    for ci in range(shards):
        ids += [int(i) + ci * 100_000 for i in docs["doc_id"][pick]]
        texts += [rotate(docs["text"][i], ci) for i in pick]
        langs += [docs["lang"][i] for i in pick]
        sources += [docs["source"][i] for i in pick]
    for j, i in enumerate(rng.choice(len(ids), planted, replace=False)):
        ids.append(90_000 + j)
        texts.append(near_dup(rng, texts[i]))
        langs.append(langs[i])
        sources.append(sources[i])
    return {"doc_id": np.array(ids, dtype=np.int64), "text": texts, "lang": langs,
            "source": sources, "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def gen_text(rng, out):
    cfg = SIZES["text_curation"]
    table = base("documents")
    docs = columns(table)
    main = corpus(rng, docs, cfg["base_docs"], cfg["shards"], cfg["planted"])
    write(main, table.schema, f"{out}/main/documents.parquet")
    small = corpus(rng, docs, cfg["check_docs"], 1, cfg["check_docs"] // 25)
    write(small, table.schema, f"{out}/check/documents.parquet")
    return {"docs": len(main["doc_id"]), "check_docs": len(small["doc_id"])}


# ------------------------------------------------------------ embeddings

def shifted_copies(ids, vecs, labels, copies):
    """Per copy: ids and labels offset, vectors cyclically dim-shifted."""
    dim = vecs.shape[1]
    return (np.concatenate([ids + ci * 100_000 for ci in range(copies)]),
            np.concatenate([np.roll(vecs, -((ci * 7) % dim), axis=1) for ci in range(copies)]),
            np.concatenate([labels + ci * 100 for ci in range(copies)]).astype(np.int32))


def emb_table(ids, vecs, labels):
    return {"vec_id": ids, "embedding": [v.tolist() for v in vecs], "label": labels}


def gen_vector(rng, out):
    cfg = SIZES["vector_graph"]
    table = base("embeddings")
    ids = table.column("vec_id").to_numpy()
    vecs = np.array(table.column("embedding").to_pylist(), dtype=np.float32)
    labels = table.column("label").to_numpy()
    mids, mvecs, mlabels = shifted_copies(ids, vecs, labels, cfg["copies"])
    write(emb_table(mids, mvecs, mlabels), table.schema, f"{out}/main/embeddings.parquet")
    nb, q = cfg["probe_batches"], cfg["probe_batch_size"]
    pick = rng.choice(len(mids), nb * q, replace=False)
    noisy = mvecs[pick] + 0.05 * rng.standard_normal((nb * q, vecs.shape[1])).astype(np.float32)
    noisy /= np.linalg.norm(noisy, axis=1, keepdims=True)
    for b in range(nb):
        sl = slice(b * q, (b + 1) * q)
        pid = np.arange(b * q, (b + 1) * q, dtype=np.int64) + 10_000_000
        write(emb_table(pid, noisy[sl], mlabels[pick[sl]]), table.schema,
              f"{out}/probes/p{b:04d}/embeddings.parquet")
    # the check input: a seeded sample renumbered 0..n-1, so the declared
    # queries' probe predicate (vec_id % 100 = 0) selects a few probes
    cpick = np.sort(rng.choice(len(ids), cfg["check_vectors"], replace=False))
    write(emb_table(np.arange(len(cpick), dtype=np.int64), vecs[cpick], labels[cpick]),
          table.schema, f"{out}/check/embeddings.parquet")
    return {"vectors": len(mids), "probe_batches": nb, "probe_batch_size": q,
            "check_vectors": len(cpick)}


GENERATORS = {"incident_daily": gen_incident, "text_curation": gen_text,
              "vector_graph": gen_vector}


def generate(workload, seed, out):
    """Writes the workload's inputs under `out`; returns the manifest."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    manifest = {"workload": workload, "seed": seed,
                **GENERATORS[workload](rng, out)}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
