"""Pack a directory of HAR files into plain-tar ``.harpack`` bundles, which
every HAR reader takes as plain input (e.g.
``har_source.read_har_dir(spark, dest, pattern="*.harpack")``; r7 VERDICT #8).

At ~32 KB per capture the ingest bottleneck is the file boundary, not the
JSON decode (BENCH/BASELINE.md r7 ingest table: the no-parse scan floor is
~55% of full-ingest wall).  Bundling N captures per tar turns N
listing/open/Arrow-framing cycles into one; members keep their
root-relative names so the bundles reproduce the unpacked tree's doc_ids
exactly.

Uncompressed tar on purpose: the HAR bytes inside may already be .har.gz,
the per-member gzip sniff lives in the reader, and an uncompressed
archive unpacks as header walk + slices (no codec in the hot loop).

Usage:
    python tools/pack_captures.py SRC_DIR DEST_DIR [files_per_bundle=256]
"""

from __future__ import annotations

import os
import sys
import tarfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from har2tree_spark.sources.har_source import _BUNDLE_SUFFIX, _HAR_SUFFIXES  # noqa: E402


def pack_dir(src: str, dest: str, files_per_bundle: int = 256) -> int:
    """Walk ``src`` for HAR files (sorted, deterministic), write
    ``bundle-NNNNN.harpack`` tars of ``files_per_bundle`` members each
    into ``dest``.  Returns the number of bundles written."""
    src = os.path.abspath(src)
    files: list[str] = []
    for root, _dirs, names in os.walk(src):
        for n in names:
            if n.endswith(_HAR_SUFFIXES):
                files.append(os.path.join(root, n))
    files.sort()
    os.makedirs(dest, exist_ok=True)
    n_bundles = 0
    for b in range(0, len(files), files_per_bundle):
        out = os.path.join(dest, f"bundle-{n_bundles:05d}{_BUNDLE_SUFFIX}")
        with tarfile.open(out, "w") as tf:
            for f in files[b : b + files_per_bundle]:
                tf.add(f, arcname=os.path.relpath(f, src))
        n_bundles += 1
    return n_bundles


if __name__ == "__main__":
    s, d = sys.argv[1], sys.argv[2]
    per = int(sys.argv[3]) if len(sys.argv) > 3 else 256
    n = pack_dir(s, d, per)
    print(f"wrote {n} bundles to {d}")
