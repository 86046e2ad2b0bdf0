from __future__ import annotations

from types import SimpleNamespace

import pytest

from py_datalake_move_files_spark import cli, session
from py_datalake_move_files_spark.config import LakeConfig, azure_oauth_conf

_CREDS = {
    "AZURE_TENANT_ID": "t",
    "AZURE_CLIENT_ID": "c",
    "AZURE_CLIENT_SECRET": "s",
    "AZURE_STORAGE_ACCOUNT_NAME": "acct",
}


def test_from_env_and_validate():
    cfg = LakeConfig.from_env(_CREDS)
    assert cfg.validate() == []
    conf = azure_oauth_conf(cfg)
    acct = "acct.dfs.core.windows.net"
    assert conf[f"spark.hadoop.fs.azure.account.auth.type.{acct}"] == "OAuth"
    assert "login.microsoftonline.com/t/" in conf[
        f"spark.hadoop.fs.azure.account.oauth2.client.endpoint.{acct}"
    ]


def test_missing_keys_fail_fast():
    cfg = LakeConfig.from_env({})
    assert set(cfg.validate()) == {
        "tenant_id",
        "client_id",
        "client_secret",
        "account_name",
    }
    with pytest.raises(ValueError, match="missing Azure config"):
        azure_oauth_conf(cfg)


def test_cli_applies_azure_conf_only_for_abfss_paths(monkeypatch, capsys):
    """``cli.main`` hands the OAuth conf to the session exactly when a path
    argument is an ``abfss://`` URI, and refuses missing credentials before
    any session is built. ``get_spark`` and the command are stubbed, so no
    JVM starts."""
    sessions = []

    def fake_get_spark(app_name, *, extra_conf=None, **_):
        sessions.append(extra_conf)
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
            stop=lambda: None,
        )

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    monkeypatch.setattr(cli, "cmd_move", lambda spark, args: 0)
    for k, v in _CREDS.items():
        monkeypatch.setenv(k, v)

    remote = "abfss://lake@acct.dfs.core.windows.net/raw"
    assert cli.main(["move", "--source", remote, "--target", "/tmp/out"]) == 0
    conf = sessions.pop()
    assert len(conf) == 5
    assert all(".acct.dfs.core.windows.net" in k for k in conf)
    assert conf == azure_oauth_conf(LakeConfig.from_env(_CREDS))

    local = ["move", "--source", "/tmp/in", "--target", "/tmp/out"]
    assert cli.main(local) == 0
    assert sessions.pop() is None
    # a non-path value that looks like a URI is not a lake path
    assert cli.main([*local, "--json-key", "k", "--json-value", remote]) == 0
    assert sessions.pop() is None

    monkeypatch.delenv("AZURE_CLIENT_SECRET")
    assert cli.main(["move", "--source", remote, "--target", "/tmp/out"]) == 1
    assert sessions == []  # no session was built
    err = capsys.readouterr().err.strip().splitlines()
    assert err == ["error: missing Azure config: client_secret"]


@pytest.mark.parametrize("host_gib", [1, 4, 15, 16, 64, 512])
def test_default_driver_heap_never_exceeds_host_memory(monkeypatch, host_gib):
    """The default driver heap is half the host's physical memory, capped at
    24g, so it always fits the host. ``os.sysconf`` is stubbed; no JVM
    starts."""
    page = 4096
    pages = host_gib * 2**30 // page
    monkeypatch.setattr(
        session.os,
        "sysconf",
        lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name],
    )
    mem = session.default_driver_mem()
    assert mem.endswith("m")
    mb = int(mem[:-1])
    assert mb == min(24 * 1024, host_gib * 1024 // 2)
    assert mb * 2**20 <= host_gib * 2**30
