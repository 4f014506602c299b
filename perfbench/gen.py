"""Seeded input generators for the benchmark workloads.

Each generator runs in one thread, uses nothing from the program, and
returns with its inputs the expected outcome, worked out from the
generator's own rules: which files the pipeline keeps or finds, where
each one goes, and every file's checksum and size.

The rules mirror the reference job (the Python file mover the program
re-expresses):
  - pipeline B keeps a file when its date lies in [after, before] and
    the JSON key `SalesCompanyId`, searched top level first, then in
    the object values and the first element of list values in key
    order, equals the filter (Python `str()` rendering);
  - pipeline B relocates: strip the source prefix, strip leading '/',
    prepend the target prefix, collapse '//';
  - pipeline A normalises each manifest filename to a blob path under
    the source prefix (kept as is when already prefixed), drops null
    filenames, and copies each existing blob to the path made by
    replacing the first occurrence of the source prefix with the
    target prefix (basename under the target when nothing changes).
"""

import hashlib
import json
import os
import random
import uuid

# 2024-01-01T00:00:00Z .. 2025-01-01T00:00:00Z
YEAR_START = 1704067200
YEAR_END = 1735689600

# lake_move: pipeline B's arguments
B_SOURCE = "quotes/incoming"
B_TARGET = "quotes/archive"
B_AFTER = 1711929600   # 2024-04-01T00:00:00Z
B_BEFORE = 1719791999  # 2024-06-30T23:59:59Z
B_COMPANY = "1003"
B_COMPANIES = ["1001", "1002", "1003", "1004", "1005", "1006", "1007"]
# lake_move's make-up: directory fan-out under the source prefix, and
# the shares of files carrying the filter id and lying in the window
B_REGIONS = 8
B_MONTHS = 12
B_TARGET_SHARE = 0.5
B_WINDOW_SHARE = 0.25

# manifest_copy: pipeline A's arguments
A_SOURCE = "quotes/2024/"
A_TARGET = "archive/quotes/2024/"
# manifest_copy's make-up: shares of rows with a null filename, of
# named rows already carrying the source prefix, and of named rows
# whose file does not exist
A_NULL_SHARE = 0.04
A_PREFIXED_SHARE = 0.30
A_MISSING_SHARE = 0.10


def sha1(data):
    return hashlib.sha1(data).hexdigest()


def relocate(path, source, target):
    """Pipeline B's destination rule (reference app/main.py:153-159)."""
    rel = path[len(source):] if path.startswith(source) else path
    rel = rel.lstrip("/")
    return (target.rstrip("/") + "/" + rel).replace("//", "/")


def normalize(filename, prefix):
    """Pipeline A's manifest filename -> blob path (app/app.py:104-111)."""
    if filename.startswith(prefix):
        return filename
    return prefix.rstrip("/") + "/" + filename


def first_occurrence(path, source, target):
    """Pipeline A's destination rule (app/app.py:45-53)."""
    replaced = path.replace(source, target, 1)
    if replaced == path:
        return target.rstrip("/") + "/" + path.split("/")[-1]
    return replaced


def _lines(rng, n):
    return [{"LineNo": i + 1, "ItemNumber": "IT%05d" % rng.randrange(100000),
             "Quantity": rng.randrange(1, 50),
             "Price": round(rng.uniform(1, 500), 2)} for i in range(n)]


# Content shapes of a quote file, each with its share of the lake. The
# first three can carry the filter id where the key search finds it.
SHAPES = [("top", 0.30), ("nested", 0.20), ("list_first", 0.15),
          ("top_shadows", 0.10), ("list_later", 0.05), ("absent", 0.10),
          ("not_json", 0.10)]
MATCHABLE = ("top", "nested", "list_first")


def quote_document(rng, qid, shape, target):
    """One quote file's bytes. The key search finds B_COMPANY in it
    exactly when `shape` is matchable and `target` is true."""
    company = B_COMPANY if target else rng.choice(
        [c for c in B_COMPANIES if c != B_COMPANY])
    value = int(company) if rng.random() < 0.3 else company
    lines = _lines(rng, rng.randrange(1, 30))
    if shape == "top":
        doc = {"QuoteId": qid, "SalesCompanyId": value, "Lines": lines}
    elif shape == "nested":
        doc = {"QuoteId": qid, "Header": {"Currency": "EUR", "SalesCompanyId": value},
               "Lines": lines}
    elif shape == "list_first":
        doc = {"QuoteId": qid,
               "Quotes": [{"SalesCompanyId": value, "Lines": lines},
                          {"SalesCompanyId": "1009"}]}
    elif shape == "top_shadows":  # the top level wins over a nested match
        doc = {"SalesCompanyId": "1009", "Header": {"SalesCompanyId": B_COMPANY},
               "QuoteId": qid, "Lines": lines}
    elif shape == "list_later":  # only the first list element is searched
        doc = {"QuoteId": qid,
               "Quotes": [{"Lines": lines}, {"SalesCompanyId": B_COMPANY}]}
    elif shape == "absent":
        doc = {"QuoteId": qid, "Customer": "C%06d" % rng.randrange(10 ** 6),
               "Lines": lines}
    else:  # not JSON: rejected whenever a filter is set
        return ("quote %s company %s\n" % (qid, company)).encode() * \
            rng.randrange(1, 20)
    return json.dumps(doc).encode()


def split(n, shares):
    """n items split by shares into whole counts that sum to n."""
    counts = [int(n * s) for _, s in shares]
    for i in range(n - sum(counts)):
        counts[i % len(counts)] += 1
    return [(k, c) for (k, _), c in zip(shares, counts)]


def _write(files, root, rel, data, mtime):
    """Write one lake file and record its checksum and size in files."""
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    os.utime(path, (mtime, mtime))
    files[rel] = [sha1(data), len(data)]


def inventory(root):
    """rel path -> [sha1, size] of every file under root, leaving out
    the `.crc` side files Hadoop's local filesystem writes."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".crc"):
                continue
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                data = f.read()
            out[os.path.relpath(p, root)] = [sha1(data), len(data)]
    return out


def lake_move(root, seed, n_files=2000):
    """A nested lake of small JSON quote files for pipeline B, plus a
    few files outside the source prefix that must stay put. Every seed
    gives the same number of files of each shape, with and without the
    filter id, in and out of the date window; the seed picks which file
    is which, its bytes, path and mtime."""
    rng = random.Random(seed)
    kinds = [(shape, target, inside)
             for shape, n in split(n_files, SHAPES)
             for target, m in split(n, [(True, B_TARGET_SHARE),
                                        (False, 1 - B_TARGET_SHARE)])
             for inside, c in split(m, [(True, B_WINDOW_SHARE),
                                        (False, 1 - B_WINDOW_SHARE)])
             for _ in range(c)]
    rng.shuffle(kinds)
    before, kept, listed_bytes, kept_bytes = {}, {}, 0, 0
    for shape, target, inside in kinds:
        qid = str(uuid.UUID(int=rng.getrandbits(128)))
        data = quote_document(rng, qid, shape, target)
        # whole seconds, strictly inside or outside the window
        if inside:
            mtime = rng.randrange(B_AFTER + 1, B_BEFORE)
        else:
            mtime = rng.choice([rng.randrange(YEAR_START, B_AFTER),
                                rng.randrange(B_BEFORE + 1, YEAR_END)])
        rel = "%s/r%d/2024-%02d/%d_%s.json" % (
            B_SOURCE, rng.randrange(B_REGIONS), rng.randrange(B_MONTHS) + 1,
            mtime, qid)
        _write(before, root, rel, data, mtime)
        listed_bytes += len(data)
        if shape in MATCHABLE and target and inside:
            kept[rel] = relocate(rel, B_SOURCE, B_TARGET)
            kept_bytes += len(data)
    for i in range(50):  # outside the source prefix: untouched
        _write(before, root, "quotes/other/%d.json" % i,
               quote_document(rng, str(i), "top", True),
               rng.randrange(YEAR_START, YEAR_END))
    after = dict(before)
    for src, dst in kept.items():
        after[dst] = after.pop(src)
    return {"workload": "lake_move", "seed": seed,
            "args": {"source": B_SOURCE, "target": B_TARGET,
                     "after_ms": B_AFTER * 1000, "before_ms": B_BEFORE * 1000,
                     "company": B_COMPANY},
            "files": n_files, "bytes": listed_bytes,
            "moved": len(kept), "moved_bytes": kept_bytes,
            "moves": kept, "before": before, "after": after}


def manifest_copy(root, manifest, seed, n_rows=150, extra_files=100):
    """A flat source prefix of quote blobs (plus unlisted sub-folders)
    and a `;`-CSV manifest in the reference fixture's shape. Every seed
    gives the same number of null, prefixed, bare and missing rows; the
    seed picks which row is which and the bytes."""
    rng = random.Random(seed)
    n_named = n_rows - int(round(n_rows * A_NULL_SHARE))
    kinds = [None] * (n_rows - n_named) + [
        (prefixed, missing)
        for prefixed, n in split(n_named, [(True, A_PREFIXED_SHARE),
                                           (False, 1 - A_PREFIXED_SHARE)])
        for missing, c in split(n, [(True, A_MISSING_SHARE),
                                    (False, 1 - A_MISSING_SHARE)])
        for _ in range(c)]
    rng.shuffle(kinds)
    before, rows, copies, copied_bytes = {}, [], {}, 0
    for kind in kinds:
        qid = str(uuid.UUID(int=rng.getrandbits(128)))
        epoch = rng.randrange(1710553484, 1762387909)
        if kind is None:
            rows.append((qid, 1761940950, ""))
            continue
        prefixed, missing = kind
        name = "%d_%s.json" % (epoch, qid)
        filename = A_SOURCE + name if prefixed else name
        rows.append((qid, 1761940950, filename))
        if missing:
            continue
        path = normalize(filename, A_SOURCE)
        data = quote_document(rng, qid, "top", True)
        _write(before, root, path, data, epoch)
        copies[path] = first_occurrence(path, A_SOURCE, A_TARGET)
        copied_bytes += len(data)
    for i in range(extra_files):  # listed by the scan, named by no row
        sub = "unlisted/%02d/" % (i % 10) if i % 3 else ""
        _write(before, root, A_SOURCE + sub + "extra_%04d.json" % i,
               quote_document(rng, str(i), "top", False),
               rng.randrange(YEAR_START, YEAR_END))
    os.makedirs(os.path.dirname(manifest), exist_ok=True)
    with open(manifest, "w") as f:
        f.write("QuoteId;unixtimestamp;filename\n")
        for r in rows:
            f.write("%s;%d;%s\n" % r)
    after = dict(before)
    for src, dst in copies.items():
        after[dst] = after[src]
    return {"workload": "manifest_copy", "seed": seed,
            "args": {"source": A_SOURCE, "target": A_TARGET},
            "rows": n_rows, "named": n_named,
            "found": len(copies), "not_found": n_named - len(copies),
            "copied": len(copies), "copied_bytes": copied_bytes,
            "copies": copies, "before": before, "after": after}


WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


TABLES_SEED = 42


def tables(out_dir, docs=500, vectors=500, orders=15000):
    """The sf0.01-shaped tables the query_tail queries read, written as
    parquet. Documents are bags of 10-100 words from a 30-word
    vocabulary, sourced src{id % 20}; about 5% repeat another
    document's text with a trailing ' dup' (the near-duplicates the
    dedup families find). Embeddings are unit 64-vectors with a label
    in 0..9. Orders name one of orders/10 customers and have 1-7
    lineitems, each from one of orders/150 suppliers (the trading
    graph of the graph family); only the key columns are written."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(TABLES_SEED)
    os.makedirs(out_dir, exist_ok=True)

    nwords = rng.integers(10, 101, docs)
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n))
             for n in nwords]
    for i in np.flatnonzero(rng.random(docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, docs))] + " dup"
    pq.write_table(pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), docs, p=LANG_P)],
        "source": ["src%d" % (i % 20) for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    v = rng.standard_normal((vectors, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, vectors, dtype=np.int32),
    }), os.path.join(out_dir, "embeddings.parquet"))

    pq.write_table(pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, orders // 10, orders, dtype=np.int64),
    }), os.path.join(out_dir, "orders.parquet"))
    lines = rng.integers(1, 8, orders)
    pq.write_table(pa.table({
        "l_orderkey": np.repeat(np.arange(orders, dtype=np.int64), lines),
        "l_suppkey": rng.integers(0, max(1, orders // 150), int(lines.sum()),
                                  dtype=np.int64),
    }), os.path.join(out_dir, "lineitem.parquet"))
