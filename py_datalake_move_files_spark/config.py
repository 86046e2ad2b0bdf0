"""Engine configuration — the reference's env-var surface (app/config.py)
re-expressed as Spark/Hadoop conf.

The reference reads ~30 env vars at import (app/config.py:1-44); only the
Azure group (app/config.py:15-20) affects its pipelines — client id/secret/
tenant + storage account. On Spark those become Hadoop ABFS OAuth confs
applied to the session, and every executor then reads/writes the lake
directly (no credential plumbing through tasks). The CLI applies them
whenever a path argument is an ``abfss://`` URI. The D365/Graph/logging
groups are vestigial in the reference (unreferenced by app.py/main.py —
SURVEY.md §3.3) and are intentionally NOT reproduced; the container and
prefixes are part of each ``abfss://container@account.../prefix`` path.

:func:`azure_oauth_conf` only builds the conf dict (unit-testable); it
performs no I/O.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class LakeConfig:
    """Typed replacement for the reference's flat ``os.getenv`` module:
    the credential half of app/config.py:15-20 (client id/secret/tenant
    and storage account)."""

    tenant_id: str | None = None
    client_id: str | None = None
    client_secret: str | None = None
    account_name: str | None = None

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "LakeConfig":
        e = env if env is not None else os.environ
        return cls(
            tenant_id=e.get("AZURE_TENANT_ID"),
            client_id=e.get("AZURE_CLIENT_ID"),
            client_secret=e.get("AZURE_CLIENT_SECRET"),
            account_name=e.get("AZURE_STORAGE_ACCOUNT_NAME"),
        )

    def validate(self) -> list[str]:
        """The reference skips validation and fails later at client
        construction (SURVEY.md §3.3) — here missing keys are reported
        up front."""
        return [
            k
            for k in ("tenant_id", "client_id", "client_secret", "account_name")
            if getattr(self, k) in (None, "")
        ]


def azure_oauth_conf(cfg: LakeConfig) -> dict[str, str]:
    """Hadoop ABFS OAuth client-credential confs equivalent to the
    reference's ``ClientSecretCredential`` (app/app.py:26-28), applied as
    ``get_spark(extra_conf=azure_oauth_conf(cfg))`` so the session reads
    and writes ``abfss://container@account.dfs.core.windows.net/...``
    paths. Raises ``ValueError`` naming the missing keys."""
    missing = cfg.validate()
    if missing:
        raise ValueError(f"missing Azure config: {', '.join(missing)}")
    acct = f"{cfg.account_name}.dfs.core.windows.net"
    return {
        f"spark.hadoop.fs.azure.account.auth.type.{acct}": "OAuth",
        f"spark.hadoop.fs.azure.account.oauth.provider.type.{acct}": (
            "org.apache.hadoop.fs.azurebfs.oauth2.ClientCredsTokenProvider"
        ),
        f"spark.hadoop.fs.azure.account.oauth2.client.id.{acct}": cfg.client_id or "",
        f"spark.hadoop.fs.azure.account.oauth2.client.secret.{acct}": cfg.client_secret or "",
        f"spark.hadoop.fs.azure.account.oauth2.client.endpoint.{acct}": (
            f"https://login.microsoftonline.com/{cfg.tenant_id}/oauth2/token"
        ),
    }

