"""Seeded file lakes for the two file-mover workloads.

Each generator writes its lake from ``random.Random(seed)`` alone and keeps
the bytes it wrote, so the expected outcome of a job (the found / not-found
/ moved sets and every target's bytes) is computed here in plain Python from
the generator's own records, never through the program under test.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
from dataclasses import dataclass, field

#: probe key and value of the filter-move workload (the reference's example
#: invocation filters quotes on their sales company)
JSON_KEY = "SalesCompanyId"
JSON_VALUE = "100"

_EPOCH = dt.datetime(1970, 1, 1)


def _uri(path: str) -> str:
    return "file:" + path


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _listed(root: str) -> set[str]:
    out = set()
    for d, _, files in os.walk(root):
        for name in files:
            out.add(os.path.relpath(os.path.join(d, name), root))
    return out


def _check_targets(target_root: str, expected: dict[str, bytes]) -> list[str]:
    """Mismatches between the files under ``target_root`` and ``expected``
    (relative path -> bytes): missing, extra, or differing targets."""
    errors = []
    present = _listed(target_root) if os.path.isdir(target_root) else set()
    for rel in sorted(present - set(expected)):
        errors.append(f"unexpected target {rel}")
    for rel, data in expected.items():
        p = os.path.join(target_root, rel)
        if rel not in present:
            errors.append(f"missing target {rel}")
            continue
        with open(p, "rb") as f:
            if f.read() != data:
                errors.append(f"target differs from source: {rel}")
    return errors


def _quote_bytes(rng: random.Random, quote_id: int, size: int) -> bytes:
    head = json.dumps({"QuoteId": f"Q{quote_id:07d}", "v": rng.randrange(10**6)})
    pad = max(0, size - len(head) - 16)
    return (head[:-1] + f', "blob": "{rng.randbytes(pad // 2).hex()}"}}\n').encode()


@dataclass
class ArchiveLake:
    """Pipeline A input: many small quote files under nested date
    directories plus a ``;``-manifest naming most of them."""

    root: str
    files: dict[str, bytes] = field(default_factory=dict)  # rel path -> bytes
    found: set[str] = field(default_factory=set)  # rel paths the job copies
    n_not_found: int = 0

    @property
    def source(self) -> str:
        return os.path.join(self.root, "raw")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest.csv")

    def target(self, job: int) -> str:
        return os.path.join(self.root, "archive", f"job-{job}")

    @property
    def ops(self) -> set[str]:
        """Files one job copies."""
        return self.found

    def check(self, job: int, found: int, not_found: int, ok: int, error: int) -> list[str]:
        """Compare one archive job's printed totals and its target tree
        with the generator's sets."""
        errors = []
        if (found, not_found) != (len(self.found), self.n_not_found):
            errors.append(
                f"found/not_found {found}/{not_found} != "
                f"{len(self.found)}/{self.n_not_found}"
            )
        if (ok, error) != (len(self.found), 0):
            errors.append(f"audit ok/error {ok}/{error} != {len(self.found)}/0")
        expected = {r: self.files[r] for r in self.found}
        return errors + _check_targets(self.target(job), expected)

    def reset(self, job: int) -> None:
        shutil.rmtree(self.target(job), ignore_errors=True)


def _sizes(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """``n`` sizes spread evenly over ``[lo, hi]``, in random order: their
    total is the same for every seed."""
    sizes = [lo + (hi - lo) * k // max(1, n - 1) for k in range(n)]
    rng.shuffle(sizes)
    return sizes


def make_archive_lake(root: str, seed: int, *, n_files: int = 2000) -> ArchiveLake:
    """Write ``n_files`` quotes of 1-4 KB under ``raw/YYYY/MM/DD/`` and a
    manifest naming 80% of them (every 16th already carrying the source
    prefix) plus absent names and null filenames. Every seed copies the
    same number of files and bytes. At 2,000 files the listing, the plan and
    its copies take most of the archive command's time; at a few hundred,
    the command's fixed Spark actions would."""
    rng = random.Random(f"archive-{seed}")
    lake = ArchiveLake(root)
    n_found = n_files * 4 // 5
    found = set(rng.sample(range(n_files), n_found))
    sizes = {
        True: iter(_sizes(rng, n_found, 1024, 4096)),
        False: iter(_sizes(rng, n_files - n_found, 1024, 4096)),
    }
    day0 = dt.date(2023, 1, 1)
    for i in range(n_files):
        day = day0 + dt.timedelta(days=rng.randrange(730))
        rel = f"{day:%Y/%m/%d}/quote_{i:06d}.json"
        data = _quote_bytes(rng, i, next(sizes[i in found]))
        _write(os.path.join(lake.source, rel), data)
        lake.files[rel] = data
        if i in found:
            lake.found.add(rel)

    rows: list[tuple[int, str | None]] = []
    for k, rel in enumerate(sorted(lake.found)):
        rows.append((k, _uri(os.path.join(lake.source, rel)) if k % 16 == 0 else rel))
    n_absent = n_files // 10
    for k in range(n_absent):
        rows.append((len(rows), f"2031/01/01/missing_{seed}_{k:05d}.json"))
    lake.n_not_found = n_absent
    for _ in range(n_files // 20):
        rows.append((len(rows), None))
    rng.shuffle(rows)
    lines = ["QuoteId;unixtimestamp;filename"]
    for k, name in rows:
        lines.append(f"Q{k:07d};{1700000000 + k};{name or ''}")
    _write(lake.manifest, ("\n".join(lines) + "\n").encode())
    return lake


@dataclass
class JsonLake:
    """Pipeline B input: larger JSON quote documents whose modification
    times spread over 60 days, with the probe key placed top-level, nested,
    at a list head or nowhere, and some files that are not JSON at all."""

    root: str
    after: str = ""
    before: str = ""
    files: dict[str, bytes] = field(default_factory=dict)
    mtimes: dict[str, int] = field(default_factory=dict)  # rel -> ns
    moved: set[str] = field(default_factory=set)

    @property
    def source(self) -> str:
        return os.path.join(self.root, "raw")

    def target(self, job: int) -> str:
        return os.path.join(self.root, "moved", f"job-{job}")

    @property
    def ops(self) -> set[str]:
        """Files one job moves."""
        return self.moved

    def check(self, job: int, to_move: int, skipped: int, ok: int, error: int) -> list[str]:
        """Compare one filter-move job with the generator's moved set:
        printed totals, targets byte-equal to the original sources, moved
        sources gone and every other source still in place."""
        errors = []
        n = len(self.moved)
        if (to_move, skipped) != (n, len(self.files) - n):
            errors.append(f"to_move/skipped {to_move}/{skipped} != {n}/{len(self.files) - n}")
        if (ok, error) != (n, 0):
            errors.append(f"audit ok/error {ok}/{error} != {n}/0")
        left = _listed(self.source)
        if left != set(self.files) - self.moved:
            errors.append(
                f"{len(left & self.moved)} moved sources remain, "
                f"{len(set(self.files) - self.moved - left)} kept sources gone"
            )
        expected = {r: self.files[r] for r in self.moved}
        return errors + _check_targets(self.target(job), expected)

    def reset(self, job: int) -> None:
        """Put moved files back with their original modification times."""
        tgt = self.target(job)
        for rel in self.moved:
            src, moved = os.path.join(self.source, rel), os.path.join(tgt, rel)
            if os.path.exists(moved):
                os.makedirs(os.path.dirname(src), exist_ok=True)
                os.replace(moved, src)
                os.utime(src, ns=(self.mtimes[rel], self.mtimes[rel]))
        shutil.rmtree(tgt, ignore_errors=True)


def _quote_doc(rng: random.Random, i: int, size: int, placement: str, value: int) -> bytes:
    lines = []
    doc: dict = {"QuoteId": f"Q{i:07d}", "Currency": "EUR"}
    customer = {"CustomerId": rng.randrange(10**6), "Segment": rng.choice("ABCDE")}
    if placement == "top":
        doc[JSON_KEY] = value
    elif placement == "nested":
        customer[JSON_KEY] = value
    doc["Customer"] = customer
    doc["Lines"] = lines
    head = {"LineNo": 0, "Sku": f"SKU{rng.randrange(10**5):05d}"}
    if placement == "list_head":
        head[JSON_KEY] = value
    lines.append(head)
    for n in range(1, size // 120):  # a serialized line is about 120 bytes
        lines.append(
            {
                "LineNo": n,
                "Sku": f"SKU{rng.randrange(10**5):05d}",
                "Qty": rng.randrange(1, 50),
                "Price": round(rng.uniform(1, 1000), 2),
                "Note": rng.randbytes(24).hex(),
            }
        )
    return json.dumps(doc).encode()


def _probe_passes(data: bytes) -> bool:
    """The content predicate, evaluated on the generator's side: the key at
    top level, in a depth-1 object, or at the head of a depth-1 list."""
    try:
        doc = json.loads(data)
    except ValueError:
        return False
    if JSON_KEY in doc:
        return str(doc[JSON_KEY]) == JSON_VALUE
    for v in doc.values():
        if isinstance(v, dict) and JSON_KEY in v:
            return str(v[JSON_KEY]) == JSON_VALUE
        if isinstance(v, list) and v and isinstance(v[0], dict) and JSON_KEY in v[0]:
            return str(v[0][JSON_KEY]) == JSON_VALUE
    return False


def _json_kinds(n: int) -> list[tuple[str, int]]:
    """``n`` (placement, value) kinds in fixed shares: one in eight files is
    not JSON, the rest cycle through the key placements, and three in five
    of those carry the probe value."""
    n_text = n // 8
    placements = ("top", "nested", "list_head", "missing")
    kinds = [("text", 0)] * n_text
    for j in range(n - n_text):
        value = 100 if j // 4 % 5 < 3 else (7, 42, 1000)[j % 3]
        kinds.append((placements[j % 4], value))
    return kinds


def make_json_lake(root: str, seed: int, *, n_files: int = 300) -> JsonLake:
    """Write ``n_files`` JSON quotes of 8-64 KB with modification times at
    noon on 60 consecutive days; the ``after``/``before`` window keeps half
    of every kind of file, so every seed moves the same number of files and
    bytes. Days next to a window edge are never used, so the result does
    not depend on the process time zone."""
    rng = random.Random(f"json-{seed}")
    lake = JsonLake(root, after="2024-03-16", before="2024-04-14")
    half = n_files // 2
    profiles = [(True, k) for k in _json_kinds(half)]
    profiles += [(False, k) for k in _json_kinds(n_files - half)]
    rng.shuffle(profiles)
    passes = [w and p not in ("text", "missing") and v == 100 for w, (p, v) in profiles]
    sizes = {
        True: iter(_sizes(rng, sum(passes), 8 * 1024, 64 * 1024)),
        False: iter(_sizes(rng, n_files - sum(passes), 8 * 1024, 64 * 1024)),
    }
    day0 = dt.datetime(2024, 3, 1, 12)
    inside = range(16, 43)
    outside = [*range(0, 14), *range(45, 60)]
    for i, ((in_window, (placement, value)), moves) in enumerate(zip(profiles, passes)):
        rel = f"{rng.choice(['emea', 'amer', 'apac'])}/batch_{i % 17:02d}/quote_{i:06d}.json"
        size = next(sizes[moves])
        if placement == "text":
            data = (f"not json {i}\n" + rng.randbytes(size // 2).hex()).encode()
        else:
            data = _quote_doc(rng, i, size, placement, value)
        when = day0 + dt.timedelta(days=rng.choice(inside if in_window else outside))
        ns = int((when - _EPOCH).total_seconds()) * 10**9
        path = os.path.join(lake.source, rel)
        _write(path, data)
        os.utime(path, ns=(ns, ns))
        lake.files[rel], lake.mtimes[rel] = data, ns
        in_window = dt.datetime(2024, 3, 16) <= when <= dt.datetime(2024, 4, 14)
        if in_window and _probe_passes(data):
            lake.moved.add(rel)
    return lake
