"""Layer-resolved benchmark for samba_spark; see README.md."""
