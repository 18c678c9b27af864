"""Cloud-specific pipeline specializations + factory dispatch.

Parity: the reference dispatches on the source URI scheme
(framework.py:297-302 — abfss/abfs/wasbs/adl → Azure, s3 → S3) and each
subclass validates its URI prefix (framework.py:276-280, 288-292) and
exposes an auth hook (framework.py:272-274, 284-286). We add a Local
specialization (file:// or bare paths) so tests and on-prem runs use
the identical lifecycle.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from python_tool_setup_spark.config import IngestionConfig, IngestionError
from python_tool_setup_spark.ingestion.base import IngestionPipeline

_AZURE_SCHEMES = ("abfss://", "abfs://", "wasbs://", "wasb://", "adl://")
_S3_SCHEMES = ("s3://", "s3a://", "s3n://")

# Convenience credential keys accepted in cfg.source_options, mapped to
# the standard hadoop-aws conf names. Anything already prefixed "fs."
# passes through verbatim (covers every provider-specific knob).
_S3_OPTION_MAP = {
    "aws_access_key": "fs.s3a.access.key",
    "aws_secret_key": "fs.s3a.secret.key",
    "aws_session_token": "fs.s3a.session.token",
    "endpoint": "fs.s3a.endpoint",
    "credentials_provider": "fs.s3a.aws.credentials.provider",
}


def _hadoop_conf(spark: SparkSession):
    return spark.sparkContext._jsc.hadoopConfiguration()


class AzureIngestion(IngestionPipeline):
    def validate_source_uri(self) -> None:
        if not self.cfg.source_path.startswith(_AZURE_SCHEMES):
            raise IngestionError(
                f"Azure ingestion requires an abfss/abfs/wasbs/adl URI, "
                f"got {self.cfg.source_path!r}"
            )

    def configure_auth(self) -> None:
        """Map credentials from cfg.source_options onto the hadoop-azure
        (ABFS) conf (parity framework.py:272-274): explicit ``fs.*``
        keys verbatim; ``account_name`` + ``account_key`` → shared-key
        auth; ``account_name`` + ``client_id``/``client_secret``/
        ``tenant_id`` → OAuth2 client-credential auth."""
        conf = _hadoop_conf(self.spark)
        opts = self.cfg.source_options
        for k, v in opts.items():
            if k.startswith("fs."):
                conf.set(k, v)
        account = opts.get("account_name")
        if not account:
            return
        suffix = f"{account}.dfs.core.windows.net"
        if "account_key" in opts:
            conf.set(f"fs.azure.account.key.{suffix}", opts["account_key"])
        if {"client_id", "client_secret", "tenant_id"} <= opts.keys():
            conf.set(f"fs.azure.account.auth.type.{suffix}", "OAuth")
            conf.set(
                f"fs.azure.account.oauth.provider.type.{suffix}",
                "org.apache.hadoop.fs.azurebfs.oauth2.ClientCredsTokenProvider",
            )
            conf.set(f"fs.azure.account.oauth2.client.id.{suffix}", opts["client_id"])
            conf.set(
                f"fs.azure.account.oauth2.client.secret.{suffix}",
                opts["client_secret"],
            )
            conf.set(
                f"fs.azure.account.oauth2.client.endpoint.{suffix}",
                f"https://login.microsoftonline.com/{opts['tenant_id']}/oauth2/token",
            )


class S3Ingestion(IngestionPipeline):
    def validate_source_uri(self) -> None:
        if not self.cfg.source_path.startswith(_S3_SCHEMES):
            raise IngestionError(
                f"S3 ingestion requires an s3/s3a/s3n URI, "
                f"got {self.cfg.source_path!r}"
            )

    def configure_auth(self) -> None:
        """Map credentials from cfg.source_options onto the hadoop-aws
        (s3a) conf (parity framework.py:284-286). Without explicit
        options the s3a default credential chain (env, instance
        profile, …) applies untouched."""
        conf = _hadoop_conf(self.spark)
        for k, v in self.cfg.source_options.items():
            if k.startswith("fs."):
                conf.set(k, v)
            elif k in _S3_OPTION_MAP:
                conf.set(_S3_OPTION_MAP[k], v)


class LocalIngestion(IngestionPipeline):
    def validate_source_uri(self) -> None:
        pass


def make_ingestion(spark: SparkSession, cfg: IngestionConfig) -> IngestionPipeline:
    """Factory keyed on URI scheme (parity framework.py:297-302)."""
    src = cfg.source_path
    if src.startswith(_AZURE_SCHEMES):
        return AzureIngestion(spark, cfg)
    if src.startswith(_S3_SCHEMES):
        return S3Ingestion(spark, cfg)
    return LocalIngestion(spark, cfg)
