"""Seeded inputs for the benchmark, built on the pages fixture generator.

``fixtures.gen_pages.gen_rows(n, seed)`` composes html and its golden
main-content text independently of the engine, with the fixture's
properties: ten template families, a 35% hot host, 0.2% ~1 MiB oversized
pages and 1% recrawls (same url, later warc_ts). This module writes those
rows as a many-file parquet pages table under ``perfbench/.cache`` and
keeps the golden columns in a separate file, so the program sees only
(url, warc_ts, html, lang).

For curation it adds re-published copies of clean-article pages whose
url appears once:

- exact copies: the same html under another url;
- near copies: the last word of the last paragraph replaced, in both the
  html and the golden text, under another url.

Without them the fixture gives exact and near dedup nothing to remove.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.gen_pages import gen_rows

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache", "inputs")
N_FILES = 32
OVERSIZED = 512 << 10  # html bytes; the fixture's oversized pages are ~1 MiB
EXACT_SHARE = 0.05  # exact copies per base document
NEAR_SHARE = 0.05  # near copies per base document
COPY_HOST = "mirror.example.net"
EDIT_WORDS = ["zephyr", "quartz", "marmot", "plinth", "saffron", "tundra"]

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ]
)
GOLDEN_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("text", pa.string()),
        ("sel_all", pa.int32()),
        ("group", pa.int32()),  # copy group id (source row's index), -1 if none
        ("copy", pa.string()),  # "", "source", "exact" or "near"
    ]
)


def _add_copies(cols: dict, n_exact: int, n_near: int, rng: random.Random) -> None:
    n = len(cols["url"])
    counts: dict[str, int] = {}
    for u in cols["url"]:
        counts[u] = counts.get(u, 0) + 1
    sources = [
        i
        for i in range(n)
        if "/clean/" in cols["url"][i]
        and counts[cols["url"][i]] == 1
        and len(cols["html"][i]) < (64 << 10)
    ]
    picked = rng.sample(sources, n_exact + n_near)
    cols["group"] = [-1] * n
    cols["copy"] = [""] * n
    day_us = 86_400 * 1_000_000
    for k, i in enumerate(picked):
        near = k >= n_exact
        html, text = cols["html"][i], cols["text"][i]
        if near:
            # text ends with "<last word>."; so does the last <p> of the article
            last = text.rsplit(" ", 1)[-1][:-1]
            new = rng.choice([w for w in EDIT_WORDS if w != last])
            tail = f"{last}.</p></article>".encode()
            if html.count(tail) != 1:
                raise ValueError(f"no unique last paragraph in {cols['url'][i]}")
            html = html.replace(tail, f"{new}.</p></article>".encode())
            text = text[: -len(last) - 1] + new + "."
        cols["group"][i] = i
        cols["copy"][i] = "source"
        for key, val in (
            ("url", f"https://{COPY_HOST}/{'near' if near else 'exact'}/{k}"),
            ("warc_ts", cols["warc_ts"][i] + day_us),
            ("html", html),
            ("text", text),
            ("lang", cols["lang"][i]),
            ("sel_all", cols["sel_all"][i]),
            ("group", i),
            ("copy", "near" if near else "exact"),
        ):
            cols[key].append(val)


def _file_order(cols: dict, rng: random.Random) -> list[int]:
    """Row order of the pages table, cut into ``N_FILES`` equal slices.
    Rows are shuffled, so copies land in every file and not only the last
    ones, but the oversized pages are dealt round-robin over the files:
    they hold about half of the html bytes, and a random deal would give
    some seeds a file, and so a task, several times heavier than others."""
    n = len(cols["url"])
    order = list(range(n))
    rng.shuffle(order)
    per = -(-n // N_FILES)
    files: list[list[int]] = [[] for _ in range(N_FILES)]
    big = [i for i in order if len(cols["html"][i]) >= OVERSIZED]
    for k, i in enumerate(big):
        files[k % N_FILES].append(i)
    rest = iter(i for i in order if len(cols["html"][i]) < OVERSIZED)
    for s, rows in enumerate(files):
        size = max(0, min(per, n - s * per))
        rows.extend(next(rest) for _ in range(size - len(rows)))
        rng.shuffle(rows)
    return [i for rows in files for i in rows]


def _write(path: str, cols: dict, rng: random.Random) -> dict:
    n = len(cols["url"])
    order = _file_order(cols, rng)
    assert sorted(order) == list(range(n))
    pages = pa.table(
        {f.name: pa.array([cols[f.name][i] for i in order], f.type) for f in PAGES_SCHEMA},
        schema=PAGES_SCHEMA,
    )
    golden = pa.table(
        {f.name: pa.array([cols[f.name][i] for i in order], f.type) for f in GOLDEN_SCHEMA},
        schema=GOLDEN_SCHEMA,
    )
    pages_dir = os.path.join(path, "pages")
    os.makedirs(pages_dir)
    per = -(-n // N_FILES)
    for s in range(N_FILES):
        pq.write_table(
            pages.slice(s * per, per),
            os.path.join(pages_dir, f"part-{s:05d}.parquet"),
            compression="zstd",
            row_group_size=2048,
        )
    pq.write_table(golden, os.path.join(path, "golden.parquet"))
    return {
        "docs": n,
        "html_mb": sum(len(h) for h in cols["html"]) / 1e6,
        "files": N_FILES,
        "file_mb": sum(
            os.path.getsize(os.path.join(pages_dir, f)) for f in os.listdir(pages_dir)
        )
        / 1e6,
        "oversized": sum(1 for h in cols["html"] if len(h) >= OVERSIZED),
        "recrawls": n - len(set(cols["url"])),
    }


def ensure_inputs(n_docs: int, seed: int, with_copies: bool) -> dict:
    """Generate (or reuse) the inputs for ``seed``; return their record:
    paths plus docs, bytes, files and copy shares. Other seeds' inputs
    are removed, so the cache holds one seed per kind."""
    kind = f"{'copies' if with_copies else 'pages'}-{n_docs}"
    path = os.path.join(CACHE, f"{kind}-seed{seed}")
    record_path = os.path.join(path, "record.json")
    if os.path.exists(record_path):
        with open(record_path) as f:
            return json.load(f)
    os.makedirs(CACHE, exist_ok=True)
    for name in os.listdir(CACHE):
        if name.startswith(kind + "-"):
            shutil.rmtree(os.path.join(CACHE, name))
    tmp = path + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    rng = random.Random(f"perfbench-{seed}")
    rows = gen_rows(n_docs, seed)
    cols = {k: rows[k] for k in ("url", "warc_ts", "html", "text", "lang", "sel_all")}
    n_exact = round(n_docs * EXACT_SHARE) if with_copies else 0
    n_near = round(n_docs * NEAR_SHARE) if with_copies else 0
    _add_copies(cols, n_exact, n_near, rng)
    record = _write(tmp, cols, rng)
    record.update(
        seed=seed,
        base_docs=n_docs,
        exact_copies=n_exact,
        near_copies=n_near,
        exact_share=n_exact / n_docs,
        near_share=n_near / n_docs,
        pages=os.path.join(path, "pages"),
        golden=os.path.join(path, "golden.parquet"),
    )
    with open(os.path.join(tmp, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    os.replace(tmp, path)
    return record

