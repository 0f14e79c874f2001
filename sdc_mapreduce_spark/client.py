"""Python client SDK for the HTTP job facade.

The reference ships a client (reference clientsdk/submit_map_reduce.py:1-37,
job_details.py:1-5) whose workflow is: upload the input files to the shared
blob container, POST ``{reducer_count, files, shard_size}`` to the submit
endpoint, print the job id. This module is that SDK against
``webclient.JobServer``, with the cloud specifics replaced by their local
analogs (the staging directory stands in for the blob container) and the
polling the reference leaves to the user (its job status lives in ZooKeeper)
made a first-class ``JobHandle.wait()``.

Defaults mirror the reference's job_details.py: shard_size=50000,
reducer_count=3. stdlib-only (urllib), so the SDK runs anywhere Python does.

Usage::

    client = MapReduceClient(f"http://127.0.0.1:{server.port}")
    staged = [client.upload(p) for p in local_files]
    handle = client.submit(staged, output_path=out)
    assert handle.wait() == "COMPLETED"
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
import urllib.error
import urllib.request
from dataclasses import dataclass
from pathlib import Path

DEFAULT_SHARD_SIZE = 50_000  # reference clientsdk/job_details.py:5
DEFAULT_REDUCER_COUNT = 3  # reference clientsdk/job_details.py:3


@dataclass
class JobHandle:
    base_url: str
    job_id: int

    def status(self) -> dict:
        with urllib.request.urlopen(
            f"{self.base_url}/jobs/{self.job_id}", timeout=30
        ) as resp:
            return json.loads(resp.read())

    def wait(self, timeout: float = 120.0, poll_interval: float = 0.1) -> str:
        """Block until the job reaches a terminal state and return it;
        raise TimeoutError if it is still CREATED/RUNNING at the deadline
        (returning a non-terminal status would let callers mistake a
        slow job for a finished one)."""
        deadline = time.time() + timeout
        while True:
            status = self.status()["status"]
            if status not in ("CREATED", "RUNNING"):
                return status
            if time.time() >= deadline:
                raise TimeoutError(
                    f"job {self.job_id} still {status} after {timeout}s"
                )
            time.sleep(poll_interval)

    def cancel(self) -> dict:
        """POST /jobs/<id>/cancel — cancels a queued job outright or
        interrupts a running one; the server replies with the resulting
        status (409 for jobs already terminal surfaces as HTTPError)."""
        req = urllib.request.Request(
            f"{self.base_url}/jobs/{self.job_id}/cancel", data=b"", method="POST"
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())


class MapReduceClient:
    """Submit-and-poll client: upload → POST → JobHandle."""

    def __init__(self, base_url: str, staging_dir: str | None = None) -> None:
        self.base_url = base_url.rstrip("/")
        self.staging_dir = Path(staging_dir or tempfile.mkdtemp(prefix="mr-staging-"))
        self.staging_dir.mkdir(parents=True, exist_ok=True)

    def upload(self, local_path: str) -> str:
        """The blob-container upload step (reference
        submit_map_reduce.py:22-28): copy the input into the staging area the
        engine reads from; returns the staged path to pass to ``submit``.
        Files sharing a basename are disambiguated instead of silently
        overwriting each other (a/words.txt + b/words.txt must not collapse
        to one staged blob counted twice)."""
        src = Path(local_path)
        dest = self.staging_dir / src.name
        i = 1
        while dest.exists():
            dest = self.staging_dir / f"{dest.stem.split('__')[0]}__{i}{dest.suffix}"
            i += 1
        shutil.copyfile(src, dest)
        return str(dest)

    def submit(
        self,
        files: list[str],
        shard_size: int = DEFAULT_SHARD_SIZE,
        reducer_count: int = DEFAULT_REDUCER_COUNT,
        output_path: str | None = None,
        name: str = "",
    ) -> JobHandle:
        """POST the job spec (reference submit_map_reduce.py:30-34); returns
        a handle carrying the server-assigned job id."""
        payload: dict = {
            "files": files,
            "shard_size": shard_size,
            "reducer_count": reducer_count,
        }
        if output_path:
            payload["output_path"] = output_path
        if name:
            payload["name"] = name
        req = urllib.request.Request(
            f"{self.base_url}/",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            body = json.loads(resp.read())
        return JobHandle(self.base_url, body["job_id"])


def main(argv: list[str]) -> int:
    """CLI twin of the reference's submit_map_reduce.py executable."""
    import argparse

    ap = argparse.ArgumentParser(description="Submit a word-count job over HTTP")
    ap.add_argument("--url", required=True, help="job server base URL")
    ap.add_argument("--files", nargs="+", required=True, help="input text files")
    ap.add_argument("--shard-size", type=int, default=DEFAULT_SHARD_SIZE)
    ap.add_argument("--reducer-count", type=int, default=DEFAULT_REDUCER_COUNT)
    ap.add_argument("--output", help="KV-text output directory (optional)")
    ap.add_argument("--no-wait", action="store_true", help="submit and exit")
    args = ap.parse_args(argv)

    try:
        client = MapReduceClient(args.url)
        staged = [client.upload(f) for f in args.files]
        handle = client.submit(
            staged,
            shard_size=args.shard_size,
            reducer_count=args.reducer_count,
            output_path=args.output,
        )
        print(f"Job successfully submitted: {handle.job_id}")
        if args.no_wait:
            return 0
        status = handle.wait()
    except (OSError, TimeoutError, urllib.error.HTTPError) as exc:
        print(f"error: {exc}")
        return 1
    print(f"Job {handle.job_id}: {status}")
    return 0 if status == "COMPLETED" else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
