"""Checkpoint manifests: per-partition commit markers with lineage + metrics.

The reference rebuilds its whole in-memory index on every add_corpus
(reference literal_similarity.py:406-414) and has no resumability; this layer
is our replacement. A manifest is the COMMIT MARKER for one index bucket
(term-hash partition): data files for a bucket are only trusted if its
manifest exists, so a killed build leaves untrusted partials that resume
deletes and rebuilds. Manifests, like every JSON commit file of an index,
are written atomically (write_json: tmp file + rename).

Each manifest carries:
- lineage: input path, docs-stage fingerprint (N, total_tokens), engine config
- metrics: n_terms, n_postings, n_blocks, payload bytes, wall seconds
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Optional


def manifest_path(checkpoint_dir: str, bucket: int) -> str:
    return os.path.join(checkpoint_dir, f"bucket-{bucket:05d}.manifest.json")


def write_json(path: str, payload: Dict, indent: Optional[int] = None) -> None:
    """Write ``payload`` as JSON to ``path`` atomically: readers see the old
    file or the whole new one, never a truncated one."""
    tmp = f"{path}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=indent, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX


def write_manifest(checkpoint_dir: str, bucket: int, payload: Dict) -> str:
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = manifest_path(checkpoint_dir, bucket)
    write_json(path, payload)
    return path


def read_manifest(checkpoint_dir: str, bucket: int) -> Optional[Dict]:
    path = manifest_path(checkpoint_dir, bucket)
    if not os.path.exists(path):
        return None
    with open(path, "r", encoding="utf-8") as f:
        return json.load(f)


def completed_buckets(checkpoint_dir: str, lineage_key: str) -> List[int]:
    """Buckets whose manifest exists AND matches the current build's lineage
    (a resume against different input must not reuse stale partitions)."""
    if not checkpoint_dir or not os.path.isdir(checkpoint_dir):
        return []
    done = []
    for name in os.listdir(checkpoint_dir):
        if not name.endswith(".manifest.json"):
            continue
        try:
            bucket = int(name.split("-")[1].split(".")[0])
        except (IndexError, ValueError):
            continue
        with open(os.path.join(checkpoint_dir, name), "r", encoding="utf-8") as f:
            m = json.load(f)
        if m.get("lineage_key") == lineage_key:
            done.append(bucket)
    return sorted(done)
