"""A throwaway PostgreSQL 15 cluster for the ``sqlite_pg`` workload.

PostgreSQL refuses to run as root. The server is started through
``unshare --map-user`` so it runs as an unprivileged uid inside a user
namespace while its files stay inside the benchmark's own work directory
(an ordinary account could not traverse a root-only parent directory).
When the benchmark itself runs unprivileged, the commands run directly.

Server settings: ``fsync=off`` (durability is not what is measured), no
TCP listener (unix socket only), everything else initdb's defaults.
"""

from __future__ import annotations

import os
import shutil
import subprocess

SETTINGS = {"fsync": "off", "listen_addresses": "''"}


def _as_server_user(argv: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return argv
    return ["unshare", "--map-user=1001", "--map-group=1001"] + argv


def available() -> bool:
    tools = ("initdb", "pg_ctl", "psql") + (("unshare",) if os.geteuid() == 0 else ())
    return all(shutil.which(p) for p in tools)


class PgCluster:
    def __init__(self, base: str, port: int):
        self.base = base
        self.port = port
        self.data = os.path.join(base, "data")
        # unix socket paths are capped at 107 bytes; fall back to the
        # abstract namespace when the checkout path is long
        sock_dir = os.path.join(base, "s")
        self.host = sock_dir if len(sock_dir) < 90 else f"@perfbench_{port}"
        self.running = False

    def start(self) -> None:
        os.makedirs(self.base, exist_ok=True)
        if not self.host.startswith("@"):
            os.makedirs(self.host, exist_ok=True)
        subprocess.run(
            _as_server_user(["initdb", "-D", self.data, "--no-sync", "-U", "postgres",
                             "-A", "trust"]),
            check=True, capture_output=True,
        )
        opts = f"-k {self.host} -p {self.port} " + " ".join(
            f"-c {k}={v}" for k, v in SETTINGS.items()
        )
        subprocess.run(
            _as_server_user(["pg_ctl", "-D", self.data, "-w", "-l",
                             os.path.join(self.base, "log"), "-o", opts, "start"]),
            check=True, capture_output=True,
        )
        self.running = True
        self.psql("CREATE DATABASE ferry", db="postgres")

    def server_pid(self) -> int:
        """Pid of the postmaster (first line of ``postmaster.pid``)."""
        with open(os.path.join(self.data, "postmaster.pid")) as f:
            return int(f.readline())

    def stop(self) -> None:
        if self.running:
            subprocess.run(
                _as_server_user(["pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop"]),
                capture_output=True,
            )
            self.running = False
        shutil.rmtree(self.base, ignore_errors=True)

    def psql(self, sql: str, db: str = "ferry") -> str:
        out = subprocess.run(
            ["psql", "-X", "-q", "-tA", "-v", "ON_ERROR_STOP=1", "-h", self.host,
             "-p", str(self.port), "-U", "postgres", "-d", db, "-c", sql],
            check=True, capture_output=True,
        )
        return out.stdout.decode()
