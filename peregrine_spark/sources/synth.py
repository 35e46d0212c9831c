"""Deterministic synthesizer for the ``repo_files`` input table.

Shape per BASELINE.json input_hint: an Iceberg-style catalog of source-code
repositories ``(repo, path, commit, lang, content)``. The link graph is
encoded INSIDE ``content`` as include-style reference lines; ingest
(sources/ingest.py) parses them back out. Reference targets follow a seeded
zipf(a≈2.0) over file ranks, so the derived graph is power-law-skewed with
genuine hub files — the skew the hub-split joins exist for.

Mirrors the reference's ingest-roundtrip test strategy
(/root/reference/core/integrationtests/DataConverter_test.hh:7-94): the
generator (`_gen`) also returns the ground-truth edge list so tests can verify the
whole parse→graph pipeline without trusting the code under test.

All generation is seeded; no external data. Scales (FIXTURES.md):
tiny=200 files, small=5_000, bench=200_000.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ["py", "c", "cpp", "java", "go"]
LANG_WEIGHTS = [0.35, 0.15, 0.2, 0.2, 0.1]
EXT = {"py": "py", "c": "c", "cpp": "cc", "java": "java", "go": "go"}

SCALES = {"tiny": 200, "small": 5_000, "bench": 200_000, "scaling": 8_000_000}


def _gen(
    n_files: int,
    seed: int = 42,
    mean_refs: float = 3.0,
    zipf_a: float = 2.0,
    n_orgs: int = 7,
) -> tuple[pd.DataFrame, np.ndarray]:
    """Return (repo_files pandas DF, ground-truth ref pairs as (src,dst) file
    indices — self-refs already dropped, duplicates NOT deduped)."""
    rng = np.random.default_rng(seed)
    idx = np.arange(n_files)

    n_repos = max(4, n_files // 40)
    repo_of = idx % n_repos
    repos_tab = np.array(
        [f"org{r % n_orgs}/repo{r}" for r in range(n_repos)], dtype=object
    )
    repo = repos_tab[repo_of]

    lang = rng.choice(LANGS, size=n_files, p=LANG_WEIGHTS)
    d0 = rng.integers(0, 8, size=n_files)
    d1 = rng.integers(0, 12, size=n_files)
    path = np.array(
        [
            f"src/m{d0[i]}/p{d1[i]}/file{i}.{EXT[lang[i]]}"
            for i in range(n_files)
        ],
        dtype=object,
    )

    # Power-law reference targets: zipf ranks mapped through a fixed
    # permutation so hub files land at arbitrary indices, not just low ids.
    perm = rng.permutation(n_files)
    n_refs = rng.poisson(mean_refs, size=n_files)
    total = int(n_refs.sum())
    ranks = rng.zipf(zipf_a, size=total)
    targets = perm[(ranks - 1) % n_files]
    src_rep = np.repeat(idx, n_refs)
    keep = src_rep != targets  # drop self-references
    pairs = np.stack([src_rep[keep], targets[keep]], axis=1)

    # Assemble content. Reference lines use a grep-able include marker;
    # extraction regex lives in sources/ingest.py and must stay in sync.
    off = np.zeros(n_files + 1, dtype=np.int64)
    np.add.at(off, src_rep[keep] + 1, 1)
    np.cumsum(off, out=off)
    order = np.argsort(src_rep[keep], kind="stable")
    tgt_sorted = pairs[order, 1]

    contents = []
    commits = []
    filler_sel = rng.integers(0, 997, size=n_files)
    for i in range(n_files):
        commit = hashlib.sha256(f"{repo[i]}:{path[i]}".encode()).hexdigest()[:40]
        commits.append(commit)
        lines = [f"// {repo[i]}/{path[i]} lang={lang[i]} commit={commit}"]
        for t in tgt_sorted[off[i] : off[i + 1]]:
            lines.append(f'#include "{repo[t]}|{path[t]}"')
        lines.append(f"int filler_{i} = {filler_sel[i]};")
        lines.append(f"// end of file {i}")
        contents.append("\n".join(lines))

    pdf = pd.DataFrame(
        {
            "repo": repo,
            "path": path,
            "commit": commits,
            "lang": lang,
            "content": contents,
        }
    )
    return pdf, pairs


def synth_repo_files(n_files: int, seed: int = 42, **kw) -> pd.DataFrame:
    return _gen(n_files, seed, **kw)[0]


def write_repo_files(out_path: str, n_files: int, seed: int = 42, **kw) -> str:
    """Write repo_files to parquet (row-grouped so Spark gets ≥ several
    input splits even at small scale)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = synth_repo_files(n_files, seed, **kw)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, out_path, row_group_size=max(1024, n_files // 32))
    return out_path
