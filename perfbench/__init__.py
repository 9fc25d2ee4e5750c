"""Weekly hiring-audit benchmark (see README.md)."""
