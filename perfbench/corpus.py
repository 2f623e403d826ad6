"""Seed-fixed shipper corpora with their ground truth.

Files are built from ``ingest.fixture.make_block`` / ``encode_blocks``
and land atomically: each is written to a staging directory beside
the landing directory and renamed into place, so a listing never sees
a partial file.

The shape of a backlog does not depend on the seed: the file count,
the per-file (blocks, events per block) pairs, the gzip-depth mix and
the hazards are fixed, and the seed only permutes which file gets
which pair and depth, and the log groups and streams. So runs with
different seeds do the same amount of work.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from kinesis_s3_data_shipper_spark.ingest.fixture import (
    MARKER, encode_blocks, make_block)

#: Gzip depths are assigned round-robin from this mix (0/1/1/2).
DEPTH_MIX = (0, 1, 1, 2)
LOG_GROUPS = ("/aws/lambda/ingest", "/aws/lambda/billing",
              "/aws/ecs/web", "/aws/rds/audit")
BASE_TS_MS = 1_700_000_000_000


@dataclass
class FileTruth:
    """What the shipper must produce for one landed file."""
    name: str
    nbytes: int
    #: block_index (as the splitter numbers it) -> event count.
    blocks: dict[int, int]
    #: Blocks the parser must quarantine.
    quarantined: int = 0

    @property
    def events(self) -> int:
        return sum(self.blocks.values())


@dataclass
class Corpus:
    landing: str
    files: dict[str, FileTruth] = field(default_factory=dict)

    @property
    def events(self) -> int:
        return sum(f.events for f in self.files.values())

    @property
    def nbytes(self) -> int:
        return sum(f.nbytes for f in self.files.values())


def land(landing: str, name: str, data: bytes) -> None:
    """Write ``data`` as ``landing/name`` atomically."""
    staging = landing.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    tmp = os.path.join(staging, name)
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, os.path.join(landing, name))


def _stream(rng: random.Random, i: int) -> str:
    return f"2024/01/{1 + i % 28:02d}/[$LATEST]{rng.getrandbits(32):08x}"


def _blocks(rng: random.Random, file_no: int, n_blocks: int,
            events_per_block: int) -> list[dict]:
    group = rng.choice(LOG_GROUPS)
    stream = _stream(rng, file_no)
    return [make_block(log_group=group, log_stream=stream,
                       n_events=events_per_block,
                       base_ts_ms=BASE_TS_MS + 60_000 * file_no + 1000 * b,
                       event_offset=b * events_per_block)
            for b in range(n_blocks)]


def _hazard_file(rng: random.Random, file_no: int) -> tuple[bytes, dict[int, int]]:
    """A valid block, a block with the raw marker inside a message, and
    a valid block. The marker splits the middle block in two; both
    halves are invalid JSON and must be quarantined, so the splitter
    numbers the blocks 0, (1, 2), 3."""
    good = _blocks(rng, file_no, 2, 50)
    corrupt = (b'{"messageType":"DATA_MESSAGE","logGroup":"/g",'
               b'"logStream":"a/b/c","logEvents":[{"id":"h1","timestamp":0,'
               b'"message":"contains ' + MARKER + b' inside"}]}')
    raw = encode_blocks(good[:1]) + corrupt + encode_blocks(good[1:])
    return raw, {0: 50, 3: 50}


def write_backlog(landing: str, seed: int, n_files: int,
                  events_per_file: int) -> Corpus:
    """``n_files`` files of 1-20 blocks, ~``events_per_file`` events
    each on average, plus a file with no blocks and one marker hazard."""
    os.makedirs(landing, exist_ok=True)
    rng = random.Random(seed)
    # Fixed (blocks, events per block) pairs: blocks cycle 1..20, and
    # the events per block keep each file near the mean.
    shapes = []
    for i in range(n_files):
        nb = 1 + i % 20
        shapes.append((nb, max(1, round(events_per_file / nb))))
    rng.shuffle(shapes)
    depths = [DEPTH_MIX[i % len(DEPTH_MIX)] for i in range(n_files)]
    rng.shuffle(depths)
    corpus = Corpus(landing)
    for i, ((nb, epb), depth) in enumerate(zip(shapes, depths)):
        name = f"part-{i:05d}.dat"
        data = encode_blocks(_blocks(rng, i, nb, epb), depth)
        land(landing, name, data)
        corpus.files[name] = FileTruth(name, len(data),
                                       {b: epb for b in range(nb)})
    # The zero-block file of the fixture matrix: listed, warned about,
    # recorded as processed, and no events.
    empty = b"not a data message at all"
    land(landing, "empty.dat", empty)
    corpus.files["empty.dat"] = FileTruth("empty.dat", len(empty), {})
    data, blocks = _hazard_file(rng, n_files)
    land(landing, "hazard.dat", data)
    corpus.files["hazard.dat"] = FileTruth("hazard.dat", len(data), blocks,
                                           quarantined=2)
    return corpus


def trickle_file(seed: int, file_no: int,
                 events: int) -> tuple[bytes, FileTruth]:
    """One gzip file of ``events`` events in 4 blocks, for the trickle."""
    rng = random.Random(seed * 1_000_003 + file_no)
    name = f"trickle-{file_no:05d}.dat"
    nb = 4
    data = encode_blocks(_blocks(rng, file_no, nb, events // nb), 1)
    return data, FileTruth(name, len(data),
                           {b: events // nb for b in range(nb)})
