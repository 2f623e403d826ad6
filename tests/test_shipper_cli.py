"""End-to-end test of the shipper CLI (the reference's operational
surface): write raw fixture files to a landing dir, run batch mode with
tracking, verify parsed events + incremental skip on re-run, then the
streaming variant with a checkpoint.
"""

from __future__ import annotations

import json
import os

import pytest

from kinesis_s3_data_shipper_spark.ingest.fixture import (fixture_files,
                                                          make_raw_file)
from kinesis_s3_data_shipper_spark.shipper import main, redacted


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    for key, blob in fixture_files():
        path = d / key.replace("/", "__")
        path.write_bytes(blob)
    return str(d)


@pytest.fixture()
def nested_landing(tmp_path):
    """The fixture keys as-is: every file sits under prefix/raw/."""
    d = tmp_path / "nested"
    for key, blob in fixture_files():
        path = d / key
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(blob)
    return str(d)


def _event_keys(spark, out):
    """(basename, block_index, event_id) of every shipped event."""
    return {(os.path.basename(r.file), r.block_index, r.event_id)
            for r in spark.read.parquet(out)
            .select("file", "block_index", "event_id").collect()}


def test_redaction():
    got = redacted({"token": "s3cret", "input": "/x", "api_key": "k",
                    "empty_token": None})
    assert got == {"token": "****", "input": "/x", "api_key": "****",
                   "empty_token": None}


def test_batch_run_and_incremental_skip(spark, landing, tmp_path, capsys):
    out = str(tmp_path / "events_out")
    processed = str(tmp_path / "processed")

    assert main(["--input", landing, "--output", out,
                 "--processed-dir", processed, "--token", "hush"]) == 0
    n_first = spark.read.parquet(out).count()
    assert n_first > 0
    err = capsys.readouterr().err
    # Token never echoed in clear.
    assert "hush" not in err
    # Per-file zero-block warning (reference parity, K:114-115): the
    # fixture's empty.dat has no DATA_MESSAGE blocks.
    assert "warning: 0 message blocks in" in err
    assert "empty.dat" in err

    # Re-run: every file already tracked → short-circuit, no new rows.
    assert main(["--input", landing, "--output", out,
                 "--processed-dir", processed]) == 0
    assert spark.read.parquet(out).count() == n_first
    err = capsys.readouterr().err
    assert "nothing to do" in err


def test_batch_payloads_written(spark, landing, tmp_path):
    out = str(tmp_path / "ev")
    assert main(["--input", landing, "--output", out, "--payloads",
                 "--batch-size", "40"]) == 0
    payloads = spark.read.parquet(out + "_payloads")
    rows = payloads.collect()
    assert all(r.n_events <= 40 for r in rows)
    assert sum(r.n_events for r in rows) == spark.read.parquet(out).count()
    body = json.loads(rows[0].payload)
    assert set(body) == {"tags", "events"}


def test_batch_post_http_e2e(spark, landing, tmp_path):
    """--payloads --post-url against a real local HTTP server: executor
    workers POST through the pooled transport; the server (driver
    process) must see every payload with auth + idempotency headers."""
    import http.server
    import threading

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((self.path, dict(self.headers), body))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        out = str(tmp_path / "ev")
        assert main(["--input", landing, "--output", out, "--payloads",
                     "--post-url", url, "--token", "tkn",
                     "--batch-size", "40"]) == 0
        n_payloads = spark.read.parquet(out + "_payloads").count()
        assert len(received) == n_payloads > 0
        path, headers, body = received[0]
        assert path == "/api/v1/ingest/humio-structured"
        assert headers["Authorization"] == "Bearer tkn"
        assert headers["X-Idempotency-Key"]
        assert set(json.loads(body)) == {"tags", "events"}
    finally:
        srv.shutdown()


def test_post_outage_no_loss_no_dup_across_retry(spark, landing, tmp_path):
    """Exactly-once delivery under an injected mid-run sink outage —
    the regression test for the reference's lost-batch flaw (K:158
    sets a failure flag but K:172-174 records the file as processed
    anyway, silently dropping the failed batches forever).

    Phase 1: a real local HTTP server accepts a few payloads, then is
    killed (listening socket closed → connection refused for every
    later POST). The run must FAIL — and, critically, must NOT record
    the input files as processed, so nothing is lost.

    Phase 2: the server restarts on the same port; the identical
    command re-runs (the operational retry). It must succeed, deliver
    EVERY payload, and re-send with the SAME idempotency keys, so a
    dedup-by-key receiver ingests each payload exactly once across
    both attempts — no loss (phase-2 alone covers the full set) and
    no duplicates (dedup by key equals the payload table's key set,
    with one body per key)."""
    import hashlib
    import http.server
    import threading

    out = str(tmp_path / "ev")
    processed = tmp_path / "processed"
    port_holder = {}
    received: list[tuple[str, str, bytes]] = []  # (phase, key, body)
    lock = threading.Lock()

    def make_server(phase: str, kill_after: int | None):
        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                with lock:
                    received.append(
                        (phase, self.headers["X-Idempotency-Key"], body))
                    n = sum(1 for p, _, _ in received if p == phase)
                self.send_response(200)
                self.end_headers()
                if kill_after is not None and n >= kill_after:
                    # Kill the server from outside the accept loop:
                    # later POSTs get connection-refused, the mid-run
                    # outage the reference mishandles.
                    threading.Thread(target=srv.shutdown).start()
                    srv.server_close()

            def log_message(self, *args):
                pass

        srv = http.server.ThreadingHTTPServer(
            ("127.0.0.1", port_holder.get("port", 0)), Handler)
        port_holder["port"] = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    srv1 = make_server("p1", kill_after=2)
    args = lambda: ["--input", landing, "--output", out, "--payloads",  # noqa: E731
                    "--post-url", f"http://127.0.0.1:{port_holder['port']}",
                    "--processed-dir", str(processed), "--batch-size", "5"]
    with pytest.raises(Exception):
        main(args())
    # The flaw under test: a failed delivery must NOT mark files done.
    assert not os.path.exists(str(processed)), (
        "files recorded as processed despite failed delivery — the "
        "reference's lost-batch behavior")

    srv2 = make_server("p2", kill_after=None)
    try:
        assert main(args()) == 0
    finally:
        srv2.shutdown()
        srv2.server_close()
        del srv1

    # Ground truth: every payload row written in EITHER attempt,
    # deduped by content key (re-runs append; content is identical).
    expected = {hashlib.sha256(r.payload.encode()).hexdigest()
                for r in spark.read.parquet(out + "_payloads").collect()}
    p2_keys = {k for p, k, _ in received if p == "p2"}
    # No loss: the retried run alone delivered the complete set.
    assert p2_keys == expected
    # Keys are honest (sha256 of the body they accompany) ...
    for _, key, body in received:
        assert hashlib.sha256(body).hexdigest() == key
    # ... so dedup-by-key ingests each payload exactly once across
    # both attempts: one distinct body per key, full coverage.
    by_key: dict[str, set[bytes]] = {}
    for _, key, body in received:
        by_key.setdefault(key, set()).add(body)
    assert set(by_key) == expected
    assert all(len(bodies) == 1 for bodies in by_key.values())
    # And the retried run marked the files processed.
    assert os.path.exists(str(processed))


def test_processed_dir_read_errors_are_fatal(spark, landing, tmp_path):
    """A corrupt processed-dir must FAIL the run, not silently disable
    tracking (which would re-append every previously-shipped file)."""
    processed = tmp_path / "processed"
    processed.mkdir()
    (processed / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        main(["--input", landing, "--output", str(tmp_path / "o"),
              "--processed-dir", str(processed)])


def test_stream_requires_checkpoint(landing, tmp_path):
    assert main(["--input", landing, "--output", str(tmp_path / "o"),
                 "--stream"]) == 2


@pytest.mark.parametrize("extra", [
    ["--payloads"], ["--post-url", "http://127.0.0.1:9"],
    ["--processed-dir", "processed"]],
    ids=["payloads", "post-url", "processed-dir"])
def test_stream_rejects_batch_only_options(landing, tmp_path, extra):
    assert main(["--input", landing, "--output", str(tmp_path / "o"),
                 "--stream", "--checkpoint", str(tmp_path / "c")]
                + extra) == 2
    assert not os.path.exists(tmp_path / "o")


def test_stream_run(spark, landing, tmp_path):
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    assert main(["--input", landing, "--output", out,
                 "--stream", "--checkpoint", ckpt]) == 0
    first = _event_keys(spark, out)
    n = spark.read.parquet(out).count()
    assert n == len(first) > 0
    # A file landing between two drains on one checkpoint is shipped
    # exactly once, and no earlier file is re-processed.
    with open(os.path.join(landing, "late.dat"), "wb") as fh:
        fh.write(make_raw_file(n_blocks=2, events_per_block=3,
                               gzip_depth=1))
    assert main(["--input", landing, "--output", out,
                 "--stream", "--checkpoint", ckpt]) == 0
    assert spark.read.parquet(out).count() == n + 6
    late = _event_keys(spark, out) - first
    assert {(f, b) for f, b, _ in late} == {("late.dat", 0), ("late.dat", 1)}


def test_batch_tracks_zero_byte_and_spaced_names(spark, landing, tmp_path,
                                                  capsys):
    """Every listed file is warned about or shipped, then recorded under
    its `path`-column key — a 0-byte file too, although the binaryFile
    scan drops it, and a name with a space, which the file index
    URI-encodes."""
    open(os.path.join(landing, "zero.dat"), "wb").close()
    with open(os.path.join(landing, "sp ace.dat"), "wb") as fh:
        fh.write(make_raw_file(n_blocks=1, events_per_block=2,
                               gzip_depth=1))
    out = str(tmp_path / "ev")
    processed = str(tmp_path / "processed")
    args = ["--input", landing, "--output", out,
            "--processed-dir", processed]

    assert main(args) == 0
    assert "warning: 0 message blocks in file:" + os.path.join(
        landing, "zero.dat") in capsys.readouterr().err
    recorded = {r.path for r in spark.read.parquet(processed).collect()}
    assert recorded == {"file:" + os.path.join(landing, n)
                        for n in os.listdir(landing)}
    scanned = {r.path for r in spark.read.format("binaryFile")
               .load(landing).select("path").collect()}
    assert scanned < recorded
    spaced = "file:" + os.path.join(landing, "sp ace.dat")
    assert spaced in scanned
    assert {r.file for r in spark.read.parquet(out).collect()
            if r.file.endswith("ace.dat")} == {spaced}

    assert main(args) == 0
    assert "nothing to do" in capsys.readouterr().err


def test_batch_prefix_filters_listed_path(spark, nested_landing, tmp_path):
    """--prefix is matched against the listed `path` key (a file: URI
    here), not against the --input dir."""
    prefix = "file:" + os.path.join(nested_landing, "prefix/raw/nb1-")
    out = str(tmp_path / "ev")
    processed = str(tmp_path / "processed")
    assert main(["--input", nested_landing, "--output", out,
                 "--prefix", prefix, "--processed-dir", processed]) == 0
    names = {f for f, _, _ in _event_keys(spark, out)}
    want = {os.path.basename(k) for k, _ in fixture_files()
            if os.path.basename(k).startswith("nb1-")}
    assert names == want
    recorded = {r.path for r in spark.read.parquet(processed).collect()}
    assert recorded == {"file:" + os.path.join(nested_landing, "prefix/raw", n)
                        for n in want}


def test_stream_reads_nested_landing_dir(spark, nested_landing, tmp_path):
    """--stream sees the files under nested dirs, exactly as batch."""
    batch_out = str(tmp_path / "batch")
    stream_out = str(tmp_path / "stream")
    assert main(["--input", nested_landing, "--output", batch_out]) == 0
    assert main(["--input", nested_landing, "--output", stream_out,
                 "--stream", "--checkpoint", str(tmp_path / "ckpt")]) == 0
    batch = _event_keys(spark, batch_out)
    assert batch and _event_keys(spark, stream_out) == batch


def test_stream_honours_prefix(spark, landing, tmp_path):
    prefix = "file:" + os.path.join(landing, "prefix__raw__nb1-")
    out = str(tmp_path / "stream")
    assert main(["--input", landing, "--output", out, "--prefix", prefix,
                 "--stream", "--checkpoint", str(tmp_path / "ckpt")]) == 0
    files = {r.file for r in spark.read.parquet(out).collect()}
    assert files and all(f.startswith(prefix) for f in files)
    want = {key.replace("/", "__") for key, _ in fixture_files()
            if os.path.basename(key).startswith("nb1-")}
    assert {os.path.basename(f) for f in files} == want
